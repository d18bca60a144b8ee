#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <pages_geo|catalog|dem_flow> \\
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The engine and the benchmark are compiled
from the checkout's sources on first use (perfbench/build.py), then one JVM
runs the workload in a single Spark session with at most 4 task threads.
It prints one JSON object as its last line:

    {"correct": true, "attempted": 26, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (setup_s, pass_s,
spark_jobs); with --trace 1 they are the per-layer ones, and the spans of
every pass are also written to .perfbench_out/<workload>/trace-<workload>.json.
Exits non-zero, printing no result, if the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pages_geo", "catalog", "dem_flow")
CATALOG_DATA = os.path.join(HERE, "data", "sf0.01")
# Time left for the JVM of one run, so the whole run ends within 180 s.
JVM_TIMEOUT_S = 170

# What spark-submit passes to a JDK 17 driver (JavaModuleOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes = build.ensure_built(ROOT)
        jars = build.spark_jars()
        java = build.java()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    out = os.path.join(ROOT, ".perfbench_out", args.workload)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = [java, *ADD_OPENS, "-Xms2g", "-Xmx2g",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", classes + os.pathsep + os.path.join(jars, "*"),
           "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out, "--catalog-data", CATALOG_DATA,
           # set-up is timed from here: JVM start, session, inputs, warm-up
           "--t0-ms", str(int(time.time() * 1000))]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {args.workload} did not finish in {JVM_TIMEOUT_S} s")
    lines = proc.stdout.splitlines()
    for line in lines:
        if not line.startswith("PERFBENCH_RESULT "):
            print(line, file=sys.stderr)
    found = [l for l in lines if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not found:
        sys.exit(f"perfbench: {args.workload} failed (exit {proc.returncode})")
    result = json.loads(found[-1].split(" ", 1)[1])

    if args.workload == "catalog":
        import catalog_checks
        problems = catalog_checks.check(out, CATALOG_DATA)
        for p in problems:
            print(f"[perfbench] check failed: {p}", file=sys.stderr)
        result["correct"] = result["correct"] and not problems

    shutil.rmtree(os.path.join(out, "spark-local"), ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
