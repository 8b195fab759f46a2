"""DuckDB oracle check of the catalog outputs.

Runs each oracle SQL the engine ships (`SparkEntry.oracleSql`, written by
the catalog workload to <out>/oracle_sql.json with its dump paths filled
in) against the seeded parquet tables, and compares the rows with the
Spark output dumped to <out>/<key>.parquet, the way tools/compare_oracle.py
does: columns sorted by name, rows sorted, values compared as strings.
"""
import glob
import json
import os
import sys

import duckdb


# Oracles whose DuckDB replay is too slow for every run: the exact
# all-pairs verifier (q18) and the recursive-CTE connected components of
# the minhash near-dup flows (q26, q37, q52), each several seconds to over
# a minute at the timed size. The self-test checks them at the smallest size.
SLOW = {"q18_embed_neardup", "q26_neardup_clusters", "q37_neardup_collapsed",
        "q52_paragraph_neardup"}


def compare(sf, out, skip=frozenset()):
    """Returns (outputs checked, outputs that did not match)."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for d in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
        name = os.path.basename(d)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/*.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    checked = failed = 0
    for name, sql in sorted(oracle.items()):
        if name in skip:
            continue
        checked += 1
        dump = os.path.join(out, f"{name}.parquet")
        try:
            a = con.execute(f"SELECT * FROM read_parquet('{dump}/*.parquet')").df()
            b = con.execute(sql).df()
        except Exception as e:  # a missing dump or a failing oracle is a mismatch
            print(f"[oracle] {name}: error {str(e)[:200]}", file=sys.stderr)
            failed += 1
            continue
        a = a.reindex(sorted(a.columns), axis=1)
        b = b.reindex(sorted(b.columns), axis=1)
        if list(a.columns) != list(b.columns) or len(a) != len(b):
            print(f"[oracle] {name}: shape spark={list(a.columns)}x{len(a)} "
                  f"duckdb={list(b.columns)}x{len(b)}", file=sys.stderr)
            failed += 1
            continue
        sa = a.astype(str).sort_values(by=list(a.columns)).reset_index(drop=True)
        sb = b.astype(str).sort_values(by=list(b.columns)).reset_index(drop=True)
        if not sa.equals(sb):
            n = int((sa != sb).any(axis=1).sum())
            print(f"[oracle] {name}: {n}/{len(sa)} rows differ", file=sys.stderr)
            failed += 1
    return checked, failed
