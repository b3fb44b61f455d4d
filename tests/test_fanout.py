"""The r14 small-scan fan-out (io.fan_out_scan).

Parquet row groups are the unit of scan parallelism: a file with
fewer row groups than the session's cores runs every downstream
narrow stage on a subset of cores (one row group = one task's worth
of rows, however many byte-range splits the scheduler makes). The
fan-out round-robin repartitions such scans up to
``defaultParallelism`` — and must do NOTHING when the layout already
feeds the cluster (healthy row-group counts, i.e. every production
table) or when the table is too big for a casually-inserted shuffle.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import mozart_etl_spark.io as mio
from mozart_etl_spark.io import fan_out_scan, table

SF = "/root/testdata/sf0.001"


def _write_parquet(path: str, n_rows: int, rows_per_group: int) -> None:
    t = pa.table({"k": list(range(n_rows)), "v": [f"x{i}" for i in range(n_rows)]})
    pq.write_table(t, path, row_group_size=rows_per_group)


def test_single_row_group_scan_fans_out(spark, tmp_path):
    p = str(tmp_path / "one_group.parquet")
    _write_parquet(p, 1000, rows_per_group=1000)
    df = spark.read.parquet(p)
    fanned = fan_out_scan(spark, df, p)
    # data-derived degree: 1000 rows justify rows//FAN_OUT_MIN_ROWS
    # partitions, capped by the core count — never 32 one-row tasks
    target = min(
        spark.sparkContext.defaultParallelism, 1000 // mio.FAN_OUT_MIN_ROWS
    )
    assert mio.fan_out_target(spark, p) == target
    assert fanned.rdd.getNumPartitions() == target
    # every partition non-empty (round robin), none holding everything
    counts = [r["count"] for r in fanned.groupBy(F.spark_partition_id()).count().collect()]
    assert max(counts) < 1000
    # rows identical
    assert sorted(r["k"] for r in fanned.collect()) == list(range(1000))


def test_tiny_scan_is_left_alone(spark, tmp_path):
    """A smoke-scale corpus (fewer rows than one partition's floor)
    must not be shuffled into per-row tasks — the fan-out's lower
    bound is as data-derived as its upper bound."""
    p = str(tmp_path / "tiny.parquet")
    _write_parquet(p, mio.FAN_OUT_MIN_ROWS - 1, rows_per_group=mio.FAN_OUT_MIN_ROWS - 1)
    df = spark.read.parquet(p)
    assert mio.fan_out_target(spark, p) == 0
    assert fan_out_scan(spark, df, p) is df


def test_healthy_row_groups_are_left_alone(spark, tmp_path):
    """A production-shaped file (row groups >= cores) must NOT gain a
    repartition — the fan-out is a small-scan rescue, not a default."""
    p = str(tmp_path / "many_groups.parquet")
    cores = spark.sparkContext.defaultParallelism
    # enough rows that the floors would justify full parallelism —
    # only the healthy row-group count prevents the repartition
    _write_parquet(p, 2 * cores * mio.FAN_OUT_MIN_ROWS, rows_per_group=mio.FAN_OUT_MIN_ROWS)
    df = spark.read.parquet(p)
    assert mio.fan_out_target(spark, p) == 0
    assert fan_out_scan(spark, df, p) is df


def test_oversize_table_is_left_alone(spark, tmp_path, monkeypatch):
    """Above FAN_OUT_MAX_BYTES the scan is returned untouched: a
    row-group-starved BIG table is a writer-side layout bug, not
    something to silently shuffle."""
    p = str(tmp_path / "big.parquet")
    _write_parquet(p, 1000, rows_per_group=1000)
    monkeypatch.setattr(mio, "FAN_OUT_MAX_BYTES", 16)
    df = spark.read.parquet(p)
    assert fan_out_scan(spark, df, p) is df


def test_layout_cache_invalidates_on_rewrite(spark, tmp_path):
    """r15 ADVICE fix: the footer-layout cache keys on (path, mtime,
    size), so a path rewritten within the session gets a fresh
    decision instead of the stale first-seen layout."""
    p = str(tmp_path / "rewritten.parquet")
    _write_parquet(p, mio.FAN_OUT_MIN_ROWS - 1, rows_per_group=mio.FAN_OUT_MIN_ROWS - 1)
    assert mio.fan_out_target(spark, p) == 0  # tiny: left alone (and cached)
    _write_parquet(p, 1000, rows_per_group=1000)
    os.utime(p, ns=(1, 1))  # force a distinct mtime even on coarse clocks
    assert mio.fan_out_target(spark, p) == min(
        spark.sparkContext.defaultParallelism, 1000 // mio.FAN_OUT_MIN_ROWS
    )


def test_table_fan_out_keeps_pushdown_and_results(spark):
    """Predicate pushdown and column pruning pass through the
    repartition, and the rows are exactly the plain scan's rows."""
    import contextlib
    import io as _io

    plain = table(spark, SF, "documents").select("doc_id", "source")
    fanned = table(spark, SF, "documents", fan_out=True).filter(
        F.col("doc_id").isNotNull()
    ).select("doc_id", "source")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        fanned.explain("formatted")
    plan = buf.getvalue()
    assert "IsNotNull(doc_id)" in plan  # pushed below the exchange
    assert "struct<doc_id:bigint,source:string>" in plan  # pruned scan
    assert sorted(map(tuple, fanned.collect())) == sorted(
        map(tuple, plain.filter(F.col("doc_id").isNotNull()).collect())
    )


def test_layout_probe_counts_directory_files(spark, tmp_path):
    d = tmp_path / "dir.parquet"
    os.makedirs(d)
    _write_parquet(str(d / "a.parquet"), 10, rows_per_group=5)
    _write_parquet(str(d / "b.parquet"), 10, rows_per_group=5)
    rg, rows, nbytes = mio._parquet_layout(spark, str(d))
    assert rg == 4
    assert rows == 20
    assert nbytes == os.path.getsize(d / "a.parquet") + os.path.getsize(d / "b.parquet")


def test_layout_cache_keeps_one_entry_per_path(spark, tmp_path):
    """A rewritten path replaces its cache entry instead of adding one,
    so a long session that rewrites tables keeps the cache bounded."""
    f = str(tmp_path / "t.parquet")
    _write_parquet(f, 10, rows_per_group=5)
    assert mio._parquet_layout(spark, f)[:2] == (2, 10)
    for n in (20, 30):
        # a different size changes the stat signature even when the
        # rewrite lands within the filesystem's mtime granularity
        _write_parquet(f, n, rows_per_group=5)
        assert mio._parquet_layout(spark, f)[:2] == (n // 5, n)
    assert [k for k in mio._PARQUET_CACHE if k.startswith(str(tmp_path))] == [f]
