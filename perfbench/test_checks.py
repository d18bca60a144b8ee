#!/usr/bin/env python3
"""The benchmark's own tests: every output check accepts a right output and
rejects planted wrong ones.

    python3 perfbench/test_checks.py

The catalog checks (DuckDB) are tested here directly; the checks of
pages_geo and dem_flow are Scala and are tested by graft.perfbench.SelfTest,
which this runs after building the benchmark.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import catalog_checks as cc  # noqa: E402

DATA = os.path.join(HERE, "data", "sf0.01")
GRID_SQL = ("SELECT p_partkey % 40 AS r, p_partkey // 40 AS c, "
            "((p_partkey * 37) % 1000) / CAST(10.0 AS DOUBLE) AS v "
            "FROM part WHERE p_partkey // 40 < 50")


class CatalogCheckTest(unittest.TestCase):
    GRID = {(r, c): float((7 * r + 3 * c) % 10) for r in range(4) for c in range(5)}

    def breached(self):
        return [(r, c, v - 0.25 * (r == c)) for (r, c), v in self.GRID.items()]

    def flooded(self):
        return [(r, c, k) for k, (r, c) in enumerate(sorted(self.GRID))]

    def test_counts(self):
        self.assertEqual([], cc.check_counts({"q": [5, 5]}, {"q": 5}))
        self.assertTrue(cc.check_counts({"q": [5, 4]}, {"q": 5}))
        self.assertTrue(cc.check_counts({"q": [6]}, {"q": 5}))
        # a pass in which the query threw is failed, not wrong
        self.assertEqual([], cc.check_counts({"q": [-1, 5]}, {"q": 5}))

    def test_breach(self):
        self.assertEqual([], cc.check_breach(self.GRID, self.breached()))
        rows = self.breached()
        r, c, b = rows[3]
        self.assertTrue(cc.check_breach(self.GRID, rows[:3] + [(r, c, b + 1.0)] + rows[4:]))
        self.assertTrue(cc.check_breach(self.GRID, rows[1:]))
        self.assertTrue(cc.check_breach(self.GRID, rows + rows[:1]))
        self.assertTrue(cc.check_breach(self.GRID, rows + [(9, 9, 0.0)]))

    def test_flood_order(self):
        self.assertEqual([], cc.check_flood_order(self.GRID, self.flooded()))
        rows = self.flooded()
        r, c, _ = rows[5]
        self.assertTrue(cc.check_flood_order(self.GRID, rows[:5] + [(r, c, 4)] + rows[6:]))
        self.assertTrue(cc.check_flood_order(self.GRID, rows[:5] + [(r, c, 20)] + rows[6:]))
        self.assertTrue(cc.check_flood_order(self.GRID, rows[:-1]))

    def test_whole_catalog_check_against_duckdb(self):
        """check() end to end on planted outputs over the real sf0.01 tables."""
        import duckdb
        out = os.path.join(build.ROOT, ".perfbench_out", "test_checks")
        shutil.rmtree(out, ignore_errors=True)
        con = duckdb.connect()
        con.execute(f"CREATE VIEW part AS SELECT * FROM read_parquet('{DATA}/part.parquet')")
        sql = "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"
        want = duckdb.sql(sql.replace(
            "lineitem", f"read_parquet('{DATA}/lineitem.parquet')")).fetchall()

        def run(count, breach_shift, order_sql):
            for name, select in (("geo_breach", f"r, c, v + {breach_shift} AS breached"),
                                 ("geo_flood_order", order_sql)):
                os.makedirs(os.path.join(out, "catalog", name), exist_ok=True)
                con.execute(f"COPY (SELECT {select} FROM ({GRID_SQL}) AS g) TO "
                            f"'{out}/catalog/{name}/part-0.parquet' (FORMAT PARQUET)")
            queries = {"q": {"family": "f", "counts": [count], "oracle": sql},
                       "geo_breach": {"family": "f", "counts": [2000], "oracle": None},
                       "geo_flood_order": {"family": "f", "counts": [2000], "oracle": None}}
            with open(os.path.join(out, "catalog.json"), "w") as fh:
                json.dump({"grid_sql": GRID_SQL, "queries": queries}, fh)
            return cc.check(out, DATA)

        order = "r, c, row_number() OVER (ORDER BY v, r, c) - 1 AS flood_order"
        self.assertEqual([], run(len(want), -0.5, order))
        self.assertEqual(1, len(run(len(want) + 1, -0.5, order)))
        self.assertEqual(1, len(run(len(want), 0.5, order)))
        self.assertEqual(1, len(run(len(want), -0.5, "r, c, 7 AS flood_order")))
        shutil.rmtree(out, ignore_errors=True)


class ScalaCheckTest(unittest.TestCase):
    def test_selftest(self):
        """graft.perfbench.SelfTest: the pages_geo and dem_flow checks."""
        classes = build.ensure_built()
        cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
        res = subprocess.run([build.java(), "-cp", cp, "graft.perfbench.SelfTest"],
                             stdout=subprocess.PIPE, text=True)
        print(res.stdout, file=sys.stderr)
        self.assertEqual(0, res.returncode)
        self.assertIn("all checks behave", res.stdout)


if __name__ == "__main__":
    unittest.main()
