#!/usr/bin/env python3
"""Run one benchmark workload of the KG engine and print its result line.

Usage (from the repository root):
    python3 kgbench/run.py --workload kg|catalog \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source on first use (sbt,
offline, into kgbench/target), then runs the workload in one JVM at
local[nproc]. The last line of standard output is one JSON object with
the keys correct, attempted, failed and metrics; the line before it is
the host record (nproc, JVM, Spark version and conf, seed).

Extra options, not used by the timed runs:
    --size tiny   smallest inputs (the self-test)
    --plant 1     one timed repetition produces a wrong output on purpose
    --cpus N      local[N] instead of local[nproc]; refused when N > nproc
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
DATA = os.path.join(HERE, "data")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("kg", "catalog")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[kgbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to kgbench/")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(
            os.path.join(os.environ["SPARK_HOME"], "jars")):
        die("SPARK_HOME must point at a Spark install with a jars/ directory")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        opts += " -Dsbt.offline=true"
    # keep sbt's scratch files (temp dir, native-library unpacking, boot
    # lock) out of the user's home and the system temp directory
    env["SBT_OPTS"] = (f"{opts} -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
                       " -Dsbt.boot.lock=false").strip()
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also for the launcher's java probes
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        # own process group: a timeout stops the sbt launcher and its JVM
        proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=840)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"build exceeded 840 s and was stopped; log in {log}")
    lines = open(log).read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (rc={rc}); log in {log}")
    cp = next((l for l in reversed(lines) if "kgbench" in l and os.pathsep in l
               and not l.startswith("[")), None)
    if cp is None:
        die(f"build printed no classpath; log in {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def heap():
    """Driver heap: a quarter of physical memory, 2 to 6 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = max(2, min(6, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration):
        g = 2
    return f"{g}g"


def run_jvm(cp, args, work, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{heap()}", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "kgbench.Main"] + args + ["--work", work, "--out", out]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"workload JVM exceeded {JVM_TIMEOUT_S} s and was stopped")
    if rc != 0 or not os.path.exists(out):
        die(f"workload JVM failed (rc={rc})")
    with open(out) as fh:
        return json.load(fh)


def select_metrics(measured, trace):
    """The metrics BENCHMARK.json asks for, in its order and with its
    units: end_to_end untraced, per_layer traced. A per-layer metric of a
    layer the workload does not exercise reads 0; an end-to-end metric
    the run did not measure is returned as missing."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if trace else "end_to_end"]
    metrics, missing = {}, []
    for m in spec:
        name, unit = m["name"], m["unit"]
        if name not in measured:
            if trace:
                metrics[name] = {"value": 0.0, "unit": unit}
            else:
                missing.append(name)
            continue
        if measured[name]["unit"] != unit:
            die(f"metric {name} measured in {measured[name]['unit']}, BENCHMARK.json says {unit}")
        metrics[name] = measured[name]
    return metrics, missing


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0)
    a = ap.parse_args()

    nproc = os.cpu_count() or 1
    cpus = a.cpus or nproc
    if cpus > nproc:
        die(f"refusing local[{cpus}]: this host has {nproc} processors")
    cp = build()

    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        res = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--cpus", str(cpus), "--size", a.size, "--plant", str(a.plant),
                           "--data", DATA],
                      work, out)
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "catalog":
            import oracle
            t0 = time.time()
            try:
                checked, mismatched = oracle.compare(
                    os.path.join(work, "sf"), os.path.join(work, "out"),
                    skip=frozenset() if a.size == "tiny" else oracle.SLOW)
            except Exception as e:  # no dumps to compare: the check failed
                print(f"[kgbench] oracle check failed: {e}", file=sys.stderr)
                checked, mismatched = 1, 1
            attempted += checked
            failed += mismatched
            print(f"[kgbench] oracle check: {checked - mismatched}/{checked} outputs match "
                  f"({time.time() - t0:.1f} s)", file=sys.stderr)
        for f in res["failures"]:
            print(f"[kgbench] failure: {f}", file=sys.stderr)
        measured = dict(res["metrics"])
        measured["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
        measured["ok_ratio"] = {"value": 1.0 - failed / attempted, "unit": "ratio"}
        metrics, missing = select_metrics(measured, a.trace)
        if missing:
            print(f"[kgbench] metrics not measured: {missing}", file=sys.stderr)
        correct = res["correct"] and failed == 0 and not missing
        if a.trace:
            spans = os.path.join(work, f"spans-{a.workload}-{a.seed}.jsonl")
            keep = os.path.join(WORK, f"spans-{a.workload}-{a.seed}.jsonl")
            if os.path.exists(spans):
                shutil.copyfile(spans, keep)
                print(f"[kgbench] spans written to {os.path.relpath(keep, ROOT)}", file=sys.stderr)
        print(json.dumps({"host": res["host"]}))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
