"""Canaries for Spark behaviour the engine depends on.

Each test pins one version-sensitive behaviour so that a Spark upgrade
which changes it fails here, instead of silently changing what the
engine computes or hanging it.

``writers`` reads a write's row count, cursor watermark and the merge's
duplicate-key check from ``DataFrame.observe()`` metrics that the write
job itself fills. ``Observation.get`` blocks until those metrics arrive
and waits forever when they never do, so the tests read them with a
bounded wait: a Spark that stops delivering them for one of the write
forms below fails the test rather than stalling the suite.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import Observation, Window
from pyspark.sql import functions as F

#: generous for a local write of a few rows; metrics that have not
#: arrived by then are taken as never arriving
METRICS_WAIT_S = 60.0


def _metrics(obs: Observation, timeout_s: float = METRICS_WAIT_S) -> dict:
    """``obs.get`` with a bounded wait."""
    box: dict = {}

    def read():
        try:
            box["metrics"] = obs.get
        except Exception as e:  # surfaced below, on the test thread
            box["error"] = e

    t = threading.Thread(target=read, daemon=True)
    t.start()
    t.join(timeout_s)
    if "error" in box:
        raise box["error"]
    if "metrics" not in box:
        pytest.fail(f"observed metrics did not arrive within {timeout_s} s of the write")
    return box["metrics"]


def _stats(df, obs: Observation):
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.max("id").alias("wm"))


@pytest.fixture(scope="module")
def ns(spark):
    name = "spark_canaries"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")
    spark.range(20).selectExpr("id", "id % 3 AS v").write.mode("overwrite").format(
        "parquet"
    ).saveAsTable(f"{name}.src")
    yield name
    spark.sql(f"DROP DATABASE IF EXISTS {name} CASCADE")


def _incoming(spark, ns: str, kind: str):
    """5 rows, rows that are filtered out only at run time, or a
    DataFrame the optimizer already knows is empty."""
    if kind == "static_empty":
        return spark.createDataFrame([], "id BIGINT, v BIGINT")
    src = spark.table(f"{ns}.src")
    if kind == "runtime_empty":
        return src.filter(F.col("id") < 0)
    return src.filter(F.col("id") < 5)


@pytest.mark.parametrize("kind", ["rows", "runtime_empty", "static_empty"])
def test_observe_fires_on_save_as_table_overwrite(spark, ns, kind):
    obs = Observation()
    _stats(_incoming(spark, ns, kind), obs).write.mode("overwrite").option(
        "overwriteSchema", "true"
    ).format("parquet").saveAsTable(f"{ns}.full")
    want = (5, 4) if kind == "rows" else (0, None)
    assert tuple(_metrics(obs).values()) == want


@pytest.mark.parametrize("kind", ["rows", "runtime_empty", "static_empty"])
def test_observe_fires_on_insert_into_overwrite(spark, ns, kind):
    tbl = f"{ns}.reload"
    spark.sql(f"CREATE TABLE IF NOT EXISTS {tbl} (id BIGINT, v BIGINT) USING parquet")
    obs = Observation()
    _stats(_incoming(spark, ns, kind).select("id", "v"), obs).write.insertInto(
        tbl, overwrite=True
    )
    want = (5, 4) if kind == "rows" else (0, None)
    assert tuple(_metrics(obs).values()) == want


@pytest.mark.parametrize("kind", ["rows", "runtime_empty", "static_empty"])
def test_observe_fires_on_staged_merge_write(spark, ns, kind):
    """The parquet merge's staged write: target anti-join incoming keys,
    union incoming, with a per-key count observed on the incoming
    branch and the total observed on top. Both must arrive, also when
    the incoming branch is empty."""
    target = spark.table(f"{ns}.src")
    inc = _incoming(spark, ns, kind).withColumn("v", F.lit(9).cast("bigint"))
    dup = Observation()
    incoming = (
        inc.withColumn("_key_rows", F.count(F.lit(1)).over(Window.partitionBy("id")))
        .observe(dup, F.max("_key_rows").alias("key_rows"))
        .drop("_key_rows")
    )
    kept = target.join(inc.select("id").dropDuplicates(), ["id"], "left_anti")
    obs = Observation()
    _stats(kept.unionByName(incoming), obs).write.mode("overwrite").format(
        "parquet"
    ).saveAsTable(f"{ns}.staged")
    assert tuple(_metrics(obs).values()) == (20, 19)
    assert _metrics(dup)["key_rows"] == (1 if kind == "rows" else None)


# --- parquet reads with a supplied schema ----------------------------
#
# ``io.read_parquet`` caches the StructType a bare ``spark.read.parquet``
# inferred and reads the path again with ``spark.read.schema(cached)``.
# That is only a win, and only correct, while Spark (a) runs a
# footer-inference job for the bare read, (b) runs none when the schema
# is supplied, and (c) gives back exactly the supplied schema and the
# same rows, partition columns included.


def _write_layout(spark, root, layout: str) -> str:
    rows = spark.range(30).selectExpr(
        "id", "id % 3 AS k", "CAST(id * 1.5 AS DOUBLE) AS x", "CAST(id AS STRING) AS s"
    )
    path = str(root / f"{layout}.parquet")
    if layout == "single_file":
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.Table.from_pandas(rows.toPandas(), preserve_index=False), path)
    elif layout == "parts_dir":
        rows.repartition(3).write.parquet(path)
    else:  # hive-partitioned k=v/ directories
        rows.write.partitionBy("k").parquet(path)
    return path


@pytest.mark.parametrize("layout", ["single_file", "parts_dir", "hive_partitioned"])
def test_supplied_parquet_schema_skips_inference(spark, spark_jobs, tmp_path, layout):
    path = _write_layout(spark, tmp_path, layout)
    bare, bare_jobs = spark_jobs(lambda: spark.read.parquet(path))
    supplied, supplied_jobs = spark_jobs(lambda: spark.read.schema(bare.schema).parquet(path))
    assert bare_jobs >= 1
    assert supplied_jobs == 0
    # StructType equality covers names, order, types, nullability and
    # field metadata, partition columns included
    assert supplied.schema == bare.schema
    if layout == "hive_partitioned":
        assert supplied.schema.names[-1] == "k"
    assert sorted(map(repr, supplied.collect())) == sorted(map(repr, bare.collect()))
