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
import xml.etree.ElementTree as ET
from contextlib import contextmanager

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
    kept = target.join(inc.select("id"), ["id"], "left_anti")
    obs = Observation()
    _stats(kept.unionByName(incoming), obs).write.mode("overwrite").format(
        "parquet"
    ).saveAsTable(f"{ns}.staged")
    assert tuple(_metrics(obs).values()) == (20, 19)
    assert _metrics(dup)["key_rows"] == (1 if kind == "rows" else None)


def test_observe_fires_under_eager_local_checkpoint(spark):
    """``connected_components`` observes each round's changed-label
    count on the frame it checkpoints eagerly and reads the metric
    right after, taking ``None`` as converged. The metric must be
    filled by the checkpoint job itself: if it were not, propagation
    would stop after one round and split components."""
    obs = Observation()
    labels = spark.range(10).selectExpr("id AS lab", "id % 3 AS _old")
    labels.observe(
        obs, F.sum(F.when(F.col("lab") != F.col("_old"), 1).otherwise(0)).alias("changed")
    ).localCheckpoint(eager=True)
    assert _metrics(obs) == {"changed": 7}


# --- sane-first top-k ranking ---------------------------------------
#
# ``similarity._top_k`` scores each pair once, flags it ``_ok`` in the
# Project above the score, ranks ``_ok`` rows first with ``row_number``
# and cuts ``_ok AND rn <= k`` above the Window. That keeps the cosine
# fold evaluated once per pair only while Spark (a) leaves a filter on
# a non-partition column above a Window and (b) does not inline a fold
# into a Project that references it twice.


def _sane_first_top_k(spark):
    from mozart_etl_spark.operators import similarity as S

    df = spark.range(24).selectExpr(
        "id % 3 AS p",
        "id",
        "array(CAST(id AS DOUBLE), 1.0D, -2.0D) AS v",
        "CAST(id AS DOUBLE) AS n",
    )
    scored = df.select("p", "id", "n", S._dot(F.col("v"), F.col("v")).alias("score"))
    return S._top_k(scored, "p", "score", "id", 2, ("n",))


def _optimized(df) -> list[str]:
    return df._jdf.queryExecution().optimizedPlan().toString().splitlines()


def test_filter_on_non_partition_column_stays_above_window(spark):
    """Spark pushes a filter below a Window only on partition columns;
    the ``_ok`` cut reads the ranking's flag and rank, so it must stay
    above the Window, where it sees every row the Window ranked."""
    w = Window.partitionBy("p").orderBy(F.desc("ok"), F.desc("x"))
    ranked = (
        spark.range(40)
        .selectExpr("id % 4 AS p", "id AS x", "id % 3 <> 0 AS ok")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("ok") & (F.col("rn") <= 2))
    )
    for df, flag in ((ranked, "ok#"), (_sane_first_top_k(spark), "_ok#")):
        plan = _optimized(df)
        window = next(i for i, line in enumerate(plan) if "Window [" in line)
        flag_filters = [i for i, line in enumerate(plan) if "Filter" in line and flag in line]
        assert flag_filters and max(flag_filters) < window, "\n".join(plan)
    ok_rows = [(x % 4, x) for x in range(40) if x % 3]
    want = [(p, x) for p, x in ok_rows if sum(q == p and y > x for q, y in ok_rows) < 2]
    assert sorted((r["p"], r["x"]) for r in ranked.collect()) == sorted(want)


def test_fold_referenced_twice_is_not_inlined(spark):
    """The score fold sits in its own Project because the Project above
    reads it twice (the score and the ``_ok`` flag); CollapseProject
    inlining it would evaluate the fold once per reference."""
    from mozart_etl_spark.operators import similarity as S

    df = spark.range(6).selectExpr("id", "array(CAST(id AS DOUBLE), 1.0D, -2.0D) AS v")
    scored = df.select("id", S._dot(F.col("v"), F.col("v")).alias("score"))
    flagged = scored.select("id", "score", S._score_is_sane(F.col("score")).alias("ok"))

    def folds(out) -> int:
        return "\n".join(_optimized(out)).count("zip_with(")

    assert folds(flagged) == 1
    assert folds(_sane_first_top_k(spark)) == 1
    assert sorted((r["id"], r["score"]) for r in flagged.collect()) == [
        (i, i * i + 5.0) for i in range(6)
    ]


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


# --- bounded streaming drains ----------------------------------------
#
# The registered streaming queries drain a file-source stream with
# ``trigger(availableNow=True)``. The hourly drain (complete mode)
# relies on that trigger running a single micro-batch, and the
# continuous aggregate (update mode) skips availableNow's trailing
# no-data batch because update mode already emitted every changed group
# in the data batch.


def _hourly_stream(spark, tmp_path):
    """Hourly per-key counts over a bounded stream of 12 events 30
    minutes apart (6 hours), watermarked 2 hours behind event time."""
    src = str(tmp_path / "events")
    spark.createDataFrame(
        [(i, "ab"[i % 2]) for i in range(12)], "i INT, k STRING"
    ).selectExpr(
        "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, i * 30, 0) AS ts", "k"
    ).write.parquet(src)
    stream = spark.readStream.schema("ts TIMESTAMP, k STRING").parquet(src)
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("start"), "k", "n")
    )


def _drained(q) -> list[int]:
    """Batch ids of a finished availableNow query."""
    if not q.awaitTermination(120):
        q.stop()
        pytest.fail("availableNow query did not finish within 120 s")
    return [p.batchId for p in q.recentProgress]


def _batch_groups(spark, tmp_path) -> list[tuple]:
    rows = spark.read.parquet(str(tmp_path / "events"))
    return sorted(
        tuple(r)
        for r in rows.groupBy(F.window("ts", "1 hour").start.alias("start"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )


def test_complete_mode_drain_runs_one_micro_batch(spark, tmp_path):
    """A watermarked complete-mode aggregation has no state to evict, so
    availableNow runs its data batch and no trailing no-data batch."""
    name = "canary_complete_drain"
    q = (
        _hourly_stream(spark, tmp_path)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert _drained(q) == [0]
    assert sorted(tuple(r) for r in spark.table(name).collect()) == _batch_groups(spark, tmp_path)


def test_update_mode_emits_every_group_in_its_data_batch(spark, tmp_path):
    """An update-mode aggregation emits every group the data changed in
    the data batch itself; the no-data batch that follows emits
    nothing, so skipping it loses no rows."""
    emitted: dict[int, list[tuple]] = {}

    def collect(batch_df, batch_id):
        emitted[batch_id] = sorted(tuple(r) for r in batch_df.collect())

    q = (
        _hourly_stream(spark, tmp_path)
        .writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    batches = _drained(q)
    assert batches[0] == 0
    assert emitted[0] == _batch_groups(spark, tmp_path)
    assert all(not emitted.get(b) for b in batches[1:])


# A bounded drain writes its local checkpoint through Spark's
# FileSystem-API checkpoint manager (streaming/events._drain): the
# default FileContext manager forks ``readlink`` on every rename on a
# host without the native Hadoop library. The conf key is internal and
# the class moved package in Spark 4.1; a Spark that renames the key
# would bring the forks back silently, so it fails here instead.

_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"


def _resolved_manager(session, path: str) -> str:
    """Class of the checkpoint manager Spark resolves for ``path`` from
    ``session``'s Hadoop conf."""
    jvm = session._jvm
    conf = session._jsparkSession.sessionState().newHadoopConf()
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = pkg.CheckpointFileManager.create(jvm.org.apache.hadoop.fs.Path(path), conf)
    return manager.getClass().getName()


@contextmanager
def _manager(spark, cls: str | None):
    """Scope the checkpoint manager (``None``: Spark's default)."""
    prev = spark.conf.get(_MANAGER_KEY, None)
    if cls is None:
        spark.conf.unset(_MANAGER_KEY)
    else:
        spark.conf.set(_MANAGER_KEY, cls)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_MANAGER_KEY)
        else:
            spark.conf.set(_MANAGER_KEY, prev)


def test_drain_resolves_filesystem_checkpoint_manager(spark, tmp_path):
    """Inside a drain over a local checkpoint, the manager resolved
    from the drain's own Hadoop conf is the FileSystem-API one."""
    from mozart_etl_spark.streaming import events

    ckpt = str(tmp_path / "ckpt")
    seen: list[str] = []

    def probe(batch_df, batch_id):
        # the batch must run in full for its state stores to commit
        batch_df.collect()
        seen.append(_resolved_manager(batch_df.sparkSession, ckpt))

    writer = (
        _hourly_stream(spark, tmp_path)
        .writeStream.foreachBatch(probe)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
    )
    events._drain(spark, writer, "canary drain", True, ckpt)
    assert seen and set(seen) == {events._FS_CHECKPOINT_MANAGER}


def _keyed_counts(spark, src: str, ckpt: str) -> dict[str, int]:
    """Drain per-key running counts over the parquet files in ``src``
    from checkpoint ``ckpt``; the groups the drain updated."""
    emitted: dict[str, int] = {}

    def collect(batch_df, batch_id):
        emitted.update((r["k"], r["n"]) for r in batch_df.collect())

    q = (
        spark.readStream.schema("k STRING")
        .parquet(src)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drained(q)
    return emitted


def _files(root) -> list[str]:
    return sorted(str(p.relative_to(root)) for p in root.rglob("*") if p.is_file())


@pytest.mark.parametrize("first_fs_api", [True, False])
def test_checkpoint_resumes_under_the_other_manager(spark, tmp_path, first_fs_api):
    """A local checkpoint written by one manager resumes under the
    other: the second drain reads only the new file and continues the
    first drain's state. Both managers write the same files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mozart_etl_spark.streaming.events import _FS_CHECKPOINT_MANAGER

    managers = [_FS_CHECKPOINT_MANAGER, None]
    if not first_fs_api:
        managers.reverse()
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(pa.table({"k": ["a", "a", "a", "b", "b"]}), src / "f1.parquet")
    ckpts = {}
    for i, cls in enumerate(managers):
        ckpts[cls] = tmp_path / f"ckpt_{i}"
        with _manager(spark, cls):
            assert _keyed_counts(spark, str(src), str(ckpts[cls])) == {"a": 3, "b": 2}
    assert _files(ckpts[managers[0]]) == _files(ckpts[managers[1]])

    pq.write_table(pa.table({"k": ["a", "c"]}), src / "f2.parquet")
    with _manager(spark, managers[1]):
        resumed = _keyed_counts(spark, str(src), str(ckpts[managers[0]]))
    assert resumed == {"a": 4, "c": 1}


# --- the session's Hadoop conf ---------------------------------------
#
# ``session.get_spark`` unsets every Hadoop conf entry whose only source
# is ``yarn-default.xml``: ``sessionState.newHadoopConf()``, which every
# scan broadcasts and every write task deserializes, then carries about
# half as many entries. A Hadoop class that registers a new default
# resource later reloads every conf and brings the entries back. That
# loses the trim's speed, not correctness, so these tests pin that a
# tenant cycle and a streaming drain register none, and that the trim
# keeps every other entry.


def _hadoop_entries(spark, conf) -> dict[str, tuple[str | None, tuple[str, ...]]]:
    """name -> (value, sources) of every entry of a Hadoop conf."""
    out = spark._jvm.java.io.StringWriter()
    conf.writeXml(out)
    return {
        p.findtext("name"): (p.findtext("value"), tuple(s.text for s in p.iter("source")))
        for p in ET.fromstring(out.toString()).iter("property")
    }


def _yarn_defaults(entries: dict) -> list[str]:
    return sorted(k for k, (_, src) in entries.items() if src == ("yarn-default.xml",))


def _session_hadoop_conf(spark):
    return spark._jsparkSession.sessionState().newHadoopConf()


def test_session_hadoop_conf_drops_only_yarn_defaults(spark):
    """The conf scans and writes get holds no yarn-default entry, and
    every other entry keeps the value it would have untrimmed: the same
    conf with its default resources loaded again."""
    conf = _session_hadoop_conf(spark)
    trimmed = _hadoop_entries(spark, conf)
    assert _yarn_defaults(trimmed) == []
    full = spark._jvm.org.apache.hadoop.conf.Configuration(conf)
    full.reloadConfiguration()
    untrimmed = _hadoop_entries(spark, full)
    dropped = set(_yarn_defaults(untrimmed))
    assert len(dropped) > 400  # the trim had yarn-default.xml's entries to drop
    assert {k: v for k, (v, _) in trimmed.items()} == {
        k: v for k, (v, _) in untrimmed.items() if k not in dropped
    }


def test_yarn_defaults_stay_out_after_a_tenant_cycle_and_a_drain(spark, tmp_path):
    from mozart_etl_spark.config import TenantSpec
    from mozart_etl_spark.cursor import CursorStore
    from mozart_etl_spark.pipeline import TenantPipeline
    from mozart_etl_spark.querybank import queries

    from .conftest import SF_SMOKE

    models = tmp_path / "models"
    models.mkdir()
    (models / "n_orders.sql").write_text(
        "{{ config(materialized='table') }}\n"
        "SELECT o_orderstatus, COUNT(*) AS n FROM {{ source('raw', 'orders') }} "
        "GROUP BY o_orderstatus\n"
    )
    spec = TenantSpec.from_dict(
        {
            "tenant_id": "canary_conf",
            "source": {"type": "parquet", "path": SF_SMOKE},
            "tables": [
                {"name": "orders", "mode": "incremental",
                 "incremental_column": "o_orderdate", "primary_key": ["o_orderkey"]},
            ],
            "models_dir": str(models),
        }
    )
    pipe = TenantPipeline(spec=spec, cursor_store=CursorStore(str(tmp_path / "cursors.json")))
    try:
        # cycle 0 reloads, cycle 1 merges
        strategies = [pipe.run(spark)["ingest"][0].strategy for _ in range(2)]
        assert strategies == ["truncate_reload", "merge_upsert"]
        assert queries()["streaming_hourly_counts"](spark, SF_SMOKE).count() > 0
    finally:
        for ns in (pipe.raw_ns, pipe.mart_ns):
            spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")
    assert _yarn_defaults(_hadoop_entries(spark, _session_hadoop_conf(spark))) == []


def test_trim_keeps_yarn_entries_set_on_purpose(spark, tmp_path):
    """An entry from ``yarn-site.xml`` or from a ``spark.hadoop.yarn.*``
    setting records that source, so the trim keeps it."""
    from mozart_etl_spark.session import _drop_yarn_defaults

    jvm = spark._jvm
    site = tmp_path / "yarn-site.xml"
    site.write_text(
        "<configuration><property><name>yarn.resourcemanager.hostname</name>"
        "<value>rm.example</value></property></configuration>"
    )
    conf = jvm.org.apache.hadoop.conf.Configuration()
    conf.addResource(jvm.org.apache.hadoop.fs.Path(str(site)))
    # how SparkContext applies a spark.hadoop.* setting
    conf.set("yarn.nodemanager.vmem-check-enabled", "false",
             "Set by Spark from keys starting with 'spark.hadoop'")
    before = _hadoop_entries(spark, conf)
    assert len(_yarn_defaults(before)) > 400
    _drop_yarn_defaults(jvm, conf)
    after = _hadoop_entries(spark, conf)
    assert _yarn_defaults(after) == []
    assert after["yarn.resourcemanager.hostname"][0] == "rm.example"
    assert after["yarn.nodemanager.vmem-check-enabled"][0] == "false"
    assert {k: v for k, v in before.items() if k not in set(_yarn_defaults(before))} == after
