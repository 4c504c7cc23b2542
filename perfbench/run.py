#!/usr/bin/env python3
"""Paper-workload benchmark: batch and online EXstream explanations.

  python3 perfbench/run.py --workload folder1_batch --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark (perfbench/build.py), generates the
workload's trace folder from the seed (perfbench/gen_fixtures.py), runs
one JVM that measures for `--seconds` and checks every explanation, and
prints one JSON line: end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen_fixtures  # noqa: E402

WORKLOADS = ["folder1_batch", "stream_close"]
# printed by every workload with --trace 0
END_TO_END = {"explain_s", "emit_p50_ms", "emit_p90_ms", "setup_s", "peak_heap_mb"}
JVM_TIMEOUT_S = 170
HEAP = "2g"
# G1 with a fixed 1 GB young generation and no concurrent old-generation
# cycles below 90 % occupancy: young collections come at fixed allocation
# intervals, and the System.gc() before each timed run is the only
# old-generation collection, so peak_heap_mb does not depend on adaptive
# sizing or on whether a mixed collection happened to run
GC = ["-XX:+UseG1GC", "-Xmn1g", "-XX:-G1UseAdaptiveIHOP", "-XX:InitiatingHeapOccupancyPercent=90"]

# Spark 4 on JDK 17 outside spark-submit (build.sbt's list)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full",
                    help="tiny: the self-test's smoke size")
    ap.add_argument("--corrupt", action="store_true",
                    help="drop one window from the checked output (self-test only)")
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = build.WORK
    data = os.path.join(work, "data", f"{a.workload}-{a.seed}-{a.scale}")
    shutil.rmtree(data, ignore_errors=True)
    gen_fixtures.generate(a.workload, a.seed, data, a.scale)
    tmp = os.path.join(work, "tmp")
    logs = os.path.join(work, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)

    # two executor threads: the workloads are bound by job count, not by
    # parallel work, and the free cores keep the JIT, GC and driver
    # thread from queueing behind the executors (steadier timings)
    cores = min(2, len(os.sched_getaffinity(0)))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"] + GC + [f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + ADD_OPENS
           + ["-cp", os.pathsep.join(classpath), "perfbench.BenchMain",
              a.workload, data, work, str(a.seconds), str(a.trace), str(cores)]
           + (["corrupt"] if a.corrupt else []))
    log = os.path.join(logs, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    with open(log, "w") as err:
        try:
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                  timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s (log: {log})")
    shutil.rmtree(data, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    with open(log) as fh:
        for line in fh:
            if line.startswith("perfbench:"):
                sys.stderr.write(line)
    names = set(result["metrics"])
    if a.trace == 0 and names != END_TO_END:
        fail(f"end-to-end metrics mismatch: {sorted(names ^ END_TO_END)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
