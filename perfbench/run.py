#!/usr/bin/env python3
"""graft benchmark: one workload, one run.

    python3 perfbench/run.py --workload tape_replay --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds graft and the benchmark from source
(perfbench/build.py), runs the workload in one JVM with Spark at
local[N] (N = min(4, cores) - 1) and a fixed heap, and prints as its last
stdout line {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics of BENCHMARK.json with --trace 0, its per-layer
metrics with --trace 1. A traced run also writes its spans to
<build dir>/trace/<workload>-<seed>.spans.jsonl. Exits non-zero, without
a result line, if the build, the run or the result's shape fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HEAP = "3g"
WORKLOADS = ("tape_replay", "tape_window", "curate_dedup")
# JDK 17 module opens Spark needs outside spark-submit, as in tools/run_main.sh
OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    classes, jars = build.build()
    out_root = os.path.dirname(classes)
    work = os.path.abspath(os.path.join(
        out_root, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # one core stays free for the client, JIT and GC threads, so they do
    # not preempt task threads and skew timings run to run
    cores = max(1, min(4, os.cpu_count() or 1) - 1)
    cmd = ["java"] + [x for o in OPENS for x in ("--add-opens", o)] + [
        "-Xmx" + HEAP, "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--cores", str(cores)]
    if a.trace:
        trace_dir = os.path.join(out_root, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        cmd += ["--spans", os.path.abspath(os.path.join(
            trace_dir, "%s-%d.spans.jsonl" % (a.workload, a.seed)))]
    t0 = time.time()
    try:
        with open(os.path.join(out_root, "last-run.log"), "w") as err:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=170)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit("run: the benchmark JVM failed (exit %d); see %s"
                 % (p.returncode, os.path.join(out_root, "last-run.log")))
    result = json.loads(lines[-1])
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    got = result.get("metrics", {})
    if sorted(got) != sorted(want):
        sys.exit("run: metrics %s do not match BENCHMARK.json"
                 % sorted(set(got) ^ set(want)))
    sys.stderr.write("run: %s seed %d finished in %.1f s\n" % (a.workload, a.seed, time.time() - t0))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
