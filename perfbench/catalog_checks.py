"""Checks of the `catalog` workload, made apart from the engine with DuckDB.

The JVM writes <out>/catalog.json: per query its family, the row count of
every pass (-1 for a pass in which it threw) and its oracle SQL, plus the
SQL of the partGrid DEM; and it writes the outputs of the two queries
without an oracle to <out>/catalog/<name>/*.parquet. Here

- each row count must equal DuckDB's count for the query's oracle SQL;
- geo_breach must give one row per grid cell, no cell above its input
  elevation;
- geo_flood_order must give one row per grid cell, every non-zero visit
  index once, all of them below the cell count.
"""
import json
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def check_counts(counts, oracle_counts):
    """counts: {query: [rows per pass]}, oracle_counts: {query: rows}."""
    problems = []
    for name, want in sorted(oracle_counts.items()):
        for i, got in enumerate(counts.get(name, [])):
            if got >= 0 and got != want:
                problems.append(f"{name} pass {i}: {got} rows, DuckDB oracle {want}")
    return problems


def _one_row_per_cell(name, grid, rows):
    cells = [(r, c) for r, c, *_ in rows]
    problems = []
    if len(cells) != len(set(cells)):
        problems.append(f"{name}: {len(cells) - len(set(cells))} duplicate cells")
    if set(cells) != set(grid):
        problems.append(f"{name}: cells differ from the grid "
                        f"({len(set(grid) - set(cells))} missing, "
                        f"{len(set(cells) - set(grid))} extra)")
    return problems


def check_breach(grid, rows):
    """grid: {(r, c): elevation}; rows: [(r, c, breached)]."""
    problems = _one_row_per_cell("geo_breach", grid, rows)
    above = [(r, c) for r, c, b in rows if (r, c) in grid and b > grid[(r, c)]]
    if above:
        problems.append(f"geo_breach: {len(above)} cells above their input "
                        f"elevation, e.g. {above[:3]}")
    return problems


def check_flood_order(grid, rows):
    """grid: {(r, c): elevation}; rows: [(r, c, flood_order)]."""
    problems = _one_row_per_cell("geo_flood_order", grid, rows)
    visits = [o for _, _, o in rows if o != 0]
    if len(visits) != len(set(visits)):
        problems.append("geo_flood_order: a visit index repeats")
    bad = [o for _, _, o in rows if not 0 <= o < len(grid)]
    if bad:
        problems.append(f"geo_flood_order: indices outside [0, {len(grid)}): {bad[:3]}")
    return problems


def check(out_dir, data_dir):
    with open(os.path.join(out_dir, "catalog.json")) as fh:
        cat = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    queries = cat["queries"]
    oracle_counts = {
        name: con.execute(f"SELECT count(*) FROM ({q['oracle']}) AS oracle").fetchone()[0]
        for name, q in queries.items() if q["oracle"] is not None}
    problems = check_counts({n: q["counts"] for n, q in queries.items()}, oracle_counts)

    grid = {(r, c): v for r, c, v in con.execute(cat["grid_sql"]).fetchall()}

    def output(name, col):
        path = os.path.join(out_dir, "catalog", name, "*.parquet")
        return con.execute(f"SELECT r, c, {col} FROM read_parquet('{path}')").fetchall()

    problems += check_breach(grid, output("geo_breach", "breached"))
    problems += check_flood_order(grid, output("geo_flood_order", "flood_order"))
    unchecked = [n for n, q in queries.items()
                 if q["oracle"] is None and n not in ("geo_breach", "geo_flood_order")]
    problems += [f"{n}: no oracle and no property check" for n in unchecked]
    return problems
