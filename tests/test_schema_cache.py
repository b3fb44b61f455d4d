"""The per-session parquet metadata cache (``io.read_parquet``).

A hit must be indistinguishable from a bare ``spark.read.parquet``:
same schema, same rows, for every testdata table. It must miss
whenever what Spark would infer can differ — a file rewritten, a
part added or replaced, a schema-affecting conf flipped — and it must
never hold more than one entry per path. A ``file:`` URI shares the
entry of the local path it names; a path on any other filesystem is
not cached, and a path that cannot be listed falls back to the bare
read with a warning rather than silently.
"""

from __future__ import annotations

import os
import warnings

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql.types import BinaryType, LongType, StringType

import mozart_etl_spark.io as mio
from mozart_etl_spark.session import apply_runtime_confs

from .oracle_harness import ALL_TABLES

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
BINARY = "spark.sql.parquet.binaryAsString"


@pytest.fixture
def restore_confs(spark):
    saved = {k: spark.conf.get(k) for k in mio.SCHEMA_CONFS}
    yield
    for k, v in saved.items():
        spark.conf.set(k, v)


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def _assert_hit_matches_bare(spark, spark_jobs, path: str) -> None:
    mio._PARQUET_CACHE.pop(path, None)
    bare = spark.read.parquet(path)
    _miss, miss_jobs = spark_jobs(lambda: mio.read_parquet(spark, path))
    hit, hit_jobs = spark_jobs(lambda: mio.read_parquet(spark, path))
    assert miss_jobs >= 1
    assert hit_jobs == 0
    assert hit.schema == bare.schema
    assert _rows(hit) == _rows(bare)


@pytest.mark.parametrize("name", ALL_TABLES)
def test_hit_matches_bare_read_for_every_table(spark, spark_jobs, sf_dir, name):
    _assert_hit_matches_bare(spark, spark_jobs, os.path.join(sf_dir, f"{name}.parquet"))


def test_events_nanos_path_hit_matches_bare_read(
    spark, spark_jobs, sf_dir, tmp_path, restore_confs
):
    """``events`` with TIMESTAMP(NANOS) ``ts``: the read mode is set
    first, then the cache serves the raw epoch-ns schema and the
    normalized batch table without a job."""
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = events.schema.get_field_index("ts")
    events = events.set_column(ts, "ts", events.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(events, str(tmp_path / "events.parquet"))
    path = str(tmp_path / "events.parquet")

    raw = mio.events_raw_schema(spark, path)
    assert spark.conf.get(NANOS) == "true"
    assert raw["ts"].dataType == LongType()
    _assert_hit_matches_bare(spark, spark_jobs, path)

    batch, jobs = spark_jobs(lambda: mio.table(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert batch.columns == ["event_id", "ts_us", "user_id", "event_type", "value", "props"]
    us = mio.table(spark, sf_dir, "events")
    assert _rows(batch) == _rows(us)


def test_rewritten_file_is_a_miss(spark, tmp_path):
    f = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), f)
    assert mio.parquet_schema(spark, f).names == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), f)
    assert mio.parquet_schema(spark, f).names == ["a", "b"]
    assert sorted(map(tuple, mio.read_parquet(spark, f).collect())) == [(1, "x"), (2, "y")]


def test_added_or_replaced_part_is_a_miss(spark, spark_jobs, tmp_path):
    d = tmp_path / "parts.parquet"
    os.makedirs(d)
    pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
    path = str(d)
    mio.read_parquet(spark, path)
    _, jobs = spark_jobs(lambda: mio.read_parquet(spark, path))
    assert jobs == 0  # unchanged directory: a hit

    pq.write_table(pa.table({"a": [2]}), str(d / "part-1.parquet"))
    df, jobs = spark_jobs(lambda: mio.read_parquet(spark, path))
    assert jobs >= 1
    assert sorted(r.a for r in df.collect()) == [1, 2]

    os.remove(d / "part-0.parquet")
    os.remove(d / "part-1.parquet")
    pq.write_table(pa.table({"a": [3], "b": ["z"]}), str(d / "part-2.parquet"))
    df, jobs = spark_jobs(lambda: mio.read_parquet(spark, path))
    assert jobs >= 1
    assert df.schema.names == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "z")]


def test_binary_as_string_flip_never_serves_the_other_schema(spark, tmp_path, restore_confs):
    f = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"y"], pa.binary())}), f)
    for flag, want in (("false", BinaryType()), ("true", StringType()), ("false", BinaryType())):
        spark.conf.set(BINARY, flag)
        for _ in range(2):  # the miss, then the hit
            schema = mio.parquet_schema(spark, f)
            assert schema["b"].dataType == want
            assert schema == spark.read.parquet(f).schema


def test_nanos_as_long_flip_never_serves_the_other_schema(spark, tmp_path, restore_confs):
    """Without ``nanosAsLong`` Spark cannot read TIMESTAMP(NANOS) at
    all; a cached epoch-ns schema must not paper over that."""
    f = str(tmp_path / "ns.parquet")
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), f)
    spark.conf.set(NANOS, "true")
    assert mio.parquet_schema(spark, f)["ts"].dataType == LongType()
    spark.conf.set(NANOS, "false")
    with pytest.raises(AnalysisException) as cached_err:
        mio.parquet_schema(spark, f)
    with pytest.raises(AnalysisException) as bare_err:
        spark.read.parquet(f)
    assert cached_err.value.getCondition() == bare_err.value.getCondition()
    spark.conf.set(NANOS, "true")
    assert mio.parquet_schema(spark, f)["ts"].dataType == LongType()


def test_file_uris_share_the_local_cache_entry(spark, spark_jobs, tmp_path):
    f = str(tmp_path / "u.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), f)
    mio.read_parquet(spark, f)  # the miss
    for uri in (f"file://{f}", f"file:{f}"):
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            df, jobs = spark_jobs(lambda: mio.read_parquet(spark, uri))
        assert jobs == 0, uri
        assert sorted(r.a for r in df.collect()) == [1, 2]
    assert [k for k in mio._PARQUET_CACHE if k.startswith(str(tmp_path))] == [f]


def test_remote_paths_bypass_the_cache(spark):
    for uri in ("s3a://bucket/t.parquet", "hdfs://nn:8020/t.parquet", "file://otherhost/t.parquet"):
        assert mio.local_path(spark, uri) is None
        assert mio._path_meta(spark, uri) is None
    # a path without a scheme lives where fs.defaultFS says
    hadoop_conf = spark.sparkContext._jsc.hadoopConfiguration()
    default_fs = hadoop_conf.get("fs.defaultFS")
    assert mio.local_path(spark, "/data/t.parquet") == "/data/t.parquet"
    hadoop_conf.set("fs.defaultFS", "hdfs://nn:8020")
    try:
        assert mio.local_path(spark, "/data/t.parquet") is None
    finally:
        hadoop_conf.set("fs.defaultFS", default_fs)


def test_cache_keeps_one_entry_per_path(spark, tmp_path, restore_confs):
    f = str(tmp_path / "one.parquet")
    for n in (1, 2, 3):
        pq.write_table(pa.table({f"c{i}": [i] for i in range(n)}), f)
        for flag in ("false", "true"):
            spark.conf.set(BINARY, flag)
            assert len(mio.parquet_schema(spark, f)) == n
            mio.fan_out_target(spark, f)
    assert [k for k in mio._PARQUET_CACHE if k.startswith(str(tmp_path))] == [f]


def test_unlistable_path_warns_and_reads_bare(spark, tmp_path):
    missing = str(tmp_path / "missing.parquet")
    with pytest.warns(UserWarning, match="missing.parquet"):
        with pytest.raises(AnalysisException):
            mio.read_parquet(spark, missing)
    assert missing not in mio._PARQUET_CACHE


def test_unreadable_footers_warn(spark, tmp_path):
    f = str(tmp_path / "corrupt.parquet")
    with open(f, "wb") as fh:
        fh.write(b"not a parquet file")
    # one footer pass serves both readers, so it warns once
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert mio._parquet_layout(spark, f) is None
        assert mio._has_nanos_timestamp(spark, f) is False
    footer = [str(w.message) for w in caught if "parquet footers" in str(w.message)]
    assert len(footer) == 1 and "corrupt.parquet" in footer[0]


def test_failed_runtime_conf_warns_naming_the_key():
    class _Conf:
        def set(self, key, value):
            if key == "spark.sql.ansi.enabled":
                raise RuntimeError("static conf")

    class _Session:
        conf = _Conf()

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        apply_runtime_confs(_Session())
    assert [str(w.message).split("=")[0] for w in caught] == [
        "cannot set spark.sql.ansi.enabled"
    ]
