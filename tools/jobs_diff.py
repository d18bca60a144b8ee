#!/usr/bin/env python3
"""Compare the per-query Spark job counts of two graft.Bench runs.

Each file holds the JSON line graft.Bench prints (other lines, such as
logs captured with it, are skipped; the last line that parses as a JSON
object with a "jobs" map is used). The queries whose job count rose or
fell from a to b are printed with both counts, then the number that
stayed the same, queries run on one side only, and "total_jobs" on each
side. Usage:

    python3 tools/jobs_diff.py <bench_a.json> <bench_b.json>

Exit status is 1 when any query that ran on both sides took more jobs
in b than in a.
"""
import json
import sys


def bench_line(path):
    found = None
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and isinstance(obj.get("jobs"), dict):
                found = obj
    if found is None:
        sys.exit(f"jobs_diff: no graft.Bench line with \"jobs\" in {path}")
    return found


def main(a_path, b_path):
    a, b = bench_line(a_path), bench_line(b_path)
    ja, jb = a["jobs"], b["jobs"]
    both = sorted(set(ja) & set(jb))
    rose = [(q, ja[q], jb[q]) for q in both if jb[q] > ja[q]]
    fell = [(q, ja[q], jb[q]) for q in both if jb[q] < ja[q]]
    for title, rows in (("rose", rose), ("fell", fell)):
        print(f"{title}: {len(rows)}")
        for q, x, y in rows:
            print(f"  {q:<40} {x:>5} -> {y:<5} ({y - x:+d})")
    print(f"same: {len(both) - len(rose) - len(fell)}")
    for side, only in (("a", sorted(set(ja) - set(jb))),
                       ("b", sorted(set(jb) - set(ja)))):
        if only:
            print(f"only in {side}: {' '.join(only)}")
    print(f"total_jobs: {a.get('total_jobs')} -> {b.get('total_jobs')}")
    return 1 if rose else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
