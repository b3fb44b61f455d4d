"""Mirror of the driver's DuckDB-oracle comparison.

Runs a registered Spark query and its oracle SQL on the same parquet
tables, canonicalizes both results (columns sorted by name, rows
sorted by all values, floats normalized), and compares.
"""

from __future__ import annotations

import math
import os

import duckdb

#: every table of the testdata layout (TESTDATA.md): the TPC-H-ish star
#: schema plus the events, documents and embeddings tables
ALL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in ALL_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_value(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def canonicalize(rows: list[dict]) -> list[tuple]:
    if not rows:
        return []
    cols = sorted(rows[0].keys())
    out = [tuple(_canon_value(r[c]) for c in cols) for r in rows]
    return sorted(out)


def compare(spark, sf_dir: str, fn, oracle: str) -> tuple[bool, str]:
    sdf = fn(spark, sf_dir)
    spark_rows = [r.asDict() for r in sdf.collect()]
    con = duck_connection(sf_dir)
    cur = con.execute(oracle)
    cols = [d[0] for d in cur.description]
    duck_rows = [dict(zip(cols, row)) for row in cur.fetchall()]
    con.close()

    if spark_rows and duck_rows:
        sc, dc = sorted(spark_rows[0].keys()), sorted(duck_rows[0].keys())
        if sc != dc:
            return False, f"column mismatch: spark={sc} duck={dc}"
    if len(spark_rows) != len(duck_rows):
        return False, f"row count: spark={len(spark_rows)} duck={len(duck_rows)}"
    s, d = canonicalize(spark_rows), canonicalize(duck_rows)
    if s != d:
        diffs = [(a, b) for a, b in zip(s, d) if a != b][:3]
        return False, f"value mismatch, first diffs: {diffs}"
    return True, f"ok ({len(spark_rows)} rows)"
