"""Seeded input generator for the ingest workloads.

Cuts CSV files out of the read-only sf0.1 parquet tables with DuckDB and
records rows, bytes and columns of every file in a manifest. The same seed
gives byte-identical files. Generation happens before the benchmark JVM
starts, so it is outside every timed number.
"""
import json
import os
import random

import duckdb

# the repository's test tables (the same location graft.Bench reads)
TESTDATA = "/root/testdata"
SF_DIR = os.path.join(TESTDATA, "sf0.1")
SMALL_SOURCES = ["customer", "orders", "lineitem", "part", "supplier", "events"]
# columns that make a row unique, for a seeded, order-free row choice
KEYS = {
    "customer": ["c_custkey"], "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"], "part": ["p_partkey"],
    "supplier": ["s_suppkey"], "events": ["event_id"],
}
DATE_STYLES = ["%Y-%m-%d", "%Y/%m/%d", "%d/%m/%Y"]


def _table(name):
    return os.path.join(SF_DIR, name + ".parquet")


def _columns(con, table):
    return [(r[0], r[1]) for r in
            con.execute(f"DESCRIBE SELECT * FROM '{_table(table)}'").fetchall()]


def _export(con, table, cols, rows, seed, date_style, path):
    """Write `rows` seed-chosen rows of `cols` to `path`, in seeded order."""
    rendered = []
    for name, typ in cols:
        if typ.startswith("TIMESTAMP"):
            # date-valued columns export as dates, clock times as datetimes
            fmt = date_style if table in ("orders", "lineitem") \
                else "%Y-%m-%d %H:%M:%S"
            rendered.append(f"strftime({name}, '{fmt}') AS {name}")
        else:
            rendered.append(name)
    key = ", ".join(KEYS[table])
    con.execute(
        f"COPY (SELECT {', '.join(rendered)} FROM '{_table(table)}' "
        f"ORDER BY hash({key}, {seed}), {key} LIMIT {rows}) "
        f"TO '{path}' (HEADER, DELIMITER ',')")
    return {"path": path, "table": table, "rows": rows,
            "bytes": os.path.getsize(path), "columns": [c for c, _ in cols]}


def _connect(out_dir):
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{os.path.join(out_dir, 'duckdb_tmp')}'")
    return con


def many_small(out_dir, seed, rows):
    """One CSV per source table, in seeded order. Each file holds `rows`
    seed-chosen rows (or the whole table, if smaller), a seeded subset of
    two thirds of the table's columns (at least two) and a seeded date
    style. Fixing the row count and subset size keeps the work per pass
    alike across seeds while the rows, columns and formats vary."""
    rng = random.Random(seed)
    con = _connect(out_dir)
    files = []
    tables = SMALL_SOURCES[:]
    rng.shuffle(tables)
    for i, table in enumerate(tables):
        cols = _columns(con, table)
        n_rows = con.execute(f"SELECT count(*) FROM '{_table(table)}'").fetchone()[0]
        k = max(2, round(2 * len(cols) / 3))
        picked = sorted(rng.sample(range(len(cols)), k))
        f = _export(con, table, [cols[j] for j in picked], min(rows, n_rows), seed + i,
                    rng.choice(DATE_STYLES),
                    os.path.join(out_dir, f"f{i}_{table}.csv"))
        f["id"] = f"f{i}_{table}"
        files.append(f)
    return files


def write_manifest(out_dir, files):
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump({"files": files}, fh, indent=1)
