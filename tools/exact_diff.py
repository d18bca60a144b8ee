#!/usr/bin/env python3
"""Exact comparison of two Verify output directories, query by query.

Each query's rows are compared as multisets with DuckDB: EXCEPT ALL
both ways, columns matched by name, doubles compared exactly (no
rounding, unlike tools/local_check.py). A refactor that should not
change any result must report 0 differing rows for every query.
oracle_sql.json is compared byte for byte. Usage:

    python3 tools/exact_diff.py <verify_dir_a> <verify_dir_b> [query ...]

With query names, only those are compared. Exit status is 1 when any
compared query (or oracle_sql.json) differs or is missing on one side.
"""
import glob
import os
import sys

import duckdb


def queries(d):
    return {n for n in os.listdir(d)
            if glob.glob(os.path.join(d, n, "*.parquet"))}


def scan(d, name):
    return f"read_parquet('{os.path.join(d, name, '*.parquet')}')"


def compare(con, a, b, name):
    """(rows in a, rows in b, rows only in a, rows only in b), or an
    error string when the two sides' schemas differ."""
    cols = {}
    for side, d in (("a", a), ("b", b)):
        desc = con.execute(f"DESCRIBE SELECT * FROM {scan(d, name)}").fetchall()
        cols[side] = {r[0]: r[1] for r in desc}
    if cols["a"] != cols["b"]:
        return f"schema differs: {cols['a']} vs {cols['b']}"
    sel = ", ".join(f'"{c}"' for c in sorted(cols["a"]))
    qa = f"SELECT {sel} FROM {scan(a, name)}"
    qb = f"SELECT {sel} FROM {scan(b, name)}"
    one = lambda q: con.execute(q).fetchone()[0]
    return (one(f"SELECT count(*) FROM ({qa})"),
            one(f"SELECT count(*) FROM ({qb})"),
            one(f"SELECT count(*) FROM ({qa} EXCEPT ALL {qb})"),
            one(f"SELECT count(*) FROM ({qb} EXCEPT ALL {qa})"))


def main(a, b, only):
    con = duckdb.connect()
    qa, qb = queries(a), queries(b)
    names = sorted(only) if only else sorted(qa | qb)
    bad = 0
    for name in names:
        if name not in qa or name not in qb:
            print(f"[MISS ] {name}: only in {a if name in qa else b}")
            bad += 1
            continue
        try:
            res = compare(con, a, b, name)
        except duckdb.Error as e:
            res = f"compare failed: {e}"
        if isinstance(res, str):
            print(f"[DIFF ] {name}: {res}")
            bad += 1
            continue
        na, nb, oa, ob = res
        tag = "SAME " if oa == 0 and ob == 0 else "DIFF "
        bad += tag == "DIFF "
        print(f"[{tag}] {name}: rows {na} / {nb}, "
              f"only in a {oa}, only in b {ob}")
    oa, ob = (os.path.join(d, "oracle_sql.json") for d in (a, b))
    if os.path.exists(oa) or os.path.exists(ob):
        same = (os.path.exists(oa) and os.path.exists(ob)
                and open(oa, "rb").read() == open(ob, "rb").read())
        print(f"oracle_sql.json: {'identical' if same else 'DIFFERS'}")
        bad += not same
    print(f"{len(names)} queries compared, {bad} differing")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2], sys.argv[3:]))
