#!/usr/bin/env python3
"""Self-test of the benchmark at the smallest size.

Usage (from the repository root):  python3 kgbench/selftest.py

Checks, for every workload of BENCHMARK.json:
  - an untraced run emits exactly the end_to_end metrics, each with its
    unit, and a traced run exactly the per_layer metrics; both correct;
  - a planted wrong output (--plant 1) counts as a failure, not as a timing;
and, once:
  - local[nproc + 1] is refused;
  - in a directory holding only BENCHMARK.json and kgbench/, the command
    fails without printing a result.
Exits 0 when every check passes.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
failures = []


def run(workload, trace=0, extra=(), cwd=ROOT):
    cmd = ["python3", "kgbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{\"correct\"") else None
    return p.returncode, result, p.stderr


def check(what, ok, detail=""):
    print(f"{'ok  ' if ok else 'FAIL'} {what}" + (f": {detail}" if detail and not ok else ""))
    if not ok:
        failures.append(what)


def check_metrics(what, result, spec):
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(f"{what}: every metric emitted with its unit", got == want,
          f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
          f"unit mismatch {sorted(k for k in want if k in got and got[k] != want[k])}")
    check(f"{what}: values are finite numbers",
          all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()))


for w in (x["name"] for x in BENCH["workloads"]):
    rc, res, err = run(w)
    check(f"{w} untraced run prints a result", rc == 0 and res is not None, err[-2000:])
    if res:
        check(f"{w} untraced run is correct", res["correct"] and res["failed"] == 0, err[-2000:])
        check_metrics(f"{w} untraced", res, BENCH["end_to_end"])
        check(f"{w} ok_ratio is 1", res["metrics"]["ok_ratio"]["value"] == 1.0)

    rc, res, err = run(w, trace=1)
    check(f"{w} traced run prints a result", rc == 0 and res is not None, err[-2000:])
    if res:
        check(f"{w} traced run is correct", res["correct"] and res["failed"] == 0, err[-2000:])
        check_metrics(f"{w} traced", res, BENCH["per_layer"])
        check(f"{w} error_rate is 0", res["metrics"]["error_rate"]["value"] == 0.0)
        if w == "kg":
            m = {k: v["value"] for k, v in res["metrics"].items()}
            layers = ["core.XmlParse.self_s", "core.Tokenize.self_s", "ner.Scorer.self_s",
                      "ner.Decode.self_s", "ddi.Relations.features_s", "ddi.Relations.decide_s",
                      "kg.canon_s"]
            check("kg traced run reports self time for every layer span",
                  all(m[k] > 0 for k in layers), str({k: m[k] for k in layers}))
            check("kg traced run reads the stage sum against the untraced scoring stage",
                  m["kg.stage_sum_ratio"] > 0 and m["kg.digest_s"] > 0,
                  str({k: m[k] for k in ("kg.stage_sum_ratio", "kg.digest_s")}))

    rc, res, err = run(w, extra=("--plant", "1"))
    check(f"{w} planted run prints a result", rc == 0 and res is not None, err[-2000:])
    if res:
        check(f"{w} planted wrong output counts as a failure",
              res["failed"] >= 1 and not res["correct"] and res["metrics"]["ok_ratio"]["value"] < 1.0,
              json.dumps(res)[:500])
        check(f"{w} planted failure is a digest mismatch, not a timing",
              "digest" in err and "FAILED" in err, err[-1000:])

nproc = os.cpu_count() or 1
rc, res, err = run("kg", extra=("--cpus", str(nproc + 1)))
check(f"local[{nproc + 1}] refused on {nproc} processors", rc != 0 and res is None, err[-500:])

bare = os.path.join(HERE, ".work", "bare-checkout")
shutil.rmtree(bare, ignore_errors=True)
os.makedirs(bare)
shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
# what git would commit: no build output, no run files
shutil.copytree(HERE, os.path.join(bare, "kgbench"), ignore=lambda d, names: [
    n for n in names if n in (".work", ".build", "target")
    or (n == "project" and os.path.basename(d) == "project")])
rc, res, err = run("kg", cwd=bare)
check("without the engine sources the command fails without a result", rc != 0 and res is None,
      f"rc={rc}")
shutil.rmtree(bare, ignore_errors=True)

print(f"{len(failures)} check(s) failed" if failures else "all checks passed")
sys.exit(1 if failures else 0)
