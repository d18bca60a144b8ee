#!/usr/bin/env python3
"""Compare the per-layer metrics of two traced perfbench runs.

Each input holds the last stdout line of `perfbench/run.py ... --trace 1`
(the result JSON). Prints each named metric for both sides and the
change; with no names, the metrics that show the block-shuffle and
stage costs of `dem_flow`:

    python3 tools/trace_pair.py trace_parent.json trace_change.json \
        [metric ...]

Job counts alone hide stages that merge into one job, so the default
set reports stages and task time next to them.
"""
import json
import sys

DEFAULT = ["spark.task_s", "spark.stages", "spark.tasks",
           "operators.d8Pointer.s", "operators.flowAccumD8.s",
           "operators.flowAccumD8.jobs", "operators.flowAccumD8.shuffle_mb"]


def metrics(path):
    with open(path) as fh:
        line = [l for l in fh.read().splitlines() if l.strip()][-1]
    res = json.loads(line)
    if not res.get("correct", False):
        print(f"{path}: correct is false", file=sys.stderr)
    return {k: v["value"] for k, v in res["metrics"].items()}


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    parent, change = metrics(argv[1]), metrics(argv[2])
    print(f"{'metric':36} {'parent':>10} {'change':>10} {'change/parent':>14}")
    for name in argv[3:] or DEFAULT:
        p, c = parent.get(name), change.get(name)
        if p is None or c is None:
            print(f"{name:36} {'missing':>10}")
            continue
        ratio = f"{c / p:.3f}" if p else "-"
        print(f"{name:36} {p:10.3f} {c:10.3f} {ratio:>14}")


if __name__ == "__main__":
    main(sys.argv)
