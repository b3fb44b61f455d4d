"""Streaming-specific tests: batch/stream parity for dedup, and
approximate-operator quality (LSH recall vs brute force)."""

from __future__ import annotations

import decimal
import hashlib
import math
import uuid
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from mozart_etl_spark.io import table
from mozart_etl_spark.operators import similarity as sim_ops
from mozart_etl_spark.streaming import events_stream, run_to_memory

SF = "/root/testdata/sf0.001"


def test_lsh_knn_recall_vs_bruteforce(spark):
    emb = table(spark, SF, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    queries = emb.filter(F.col("vec_id") < 10)
    exact = sim_ops.brute_force_knn(queries, emb, k=5)
    approx = sim_ops.lsh_knn(queries, emb, dim=dim, k=5)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # this synthetic data is near-uniform (true top-5 cosine ~0.28), so
    # per-plane collision p ~0.59; 4 planes x 8 tables predicts ~0.66
    # candidate recall — pin well below that so the test flags
    # collapse, not noise
    assert recall >= 0.5, f"LSH recall collapsed: {recall}"


def test_stateful_running_totals_matches_batch(spark):
    """Custom applyInPandasWithState operator: after draining the whole
    stream, the per-user cumulative row must equal the batch aggregate."""
    from mozart_etl_spark.streaming import running_user_totals

    st = events_stream(spark, SF)
    out = run_to_memory(
        running_user_totals(st), f"rt_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    # one emitted row per user per micro-batch; the row with max
    # n_events per user is the final cumulative state
    latest = (
        out.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("last_ts_us").alias("last_ts_us"),
            F.min("first_ts_us").alias("first_ts_us"),
        )
    )
    batch = (
        table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts_us").alias("last_ts_us"),
            F.min("ts_us").alias("first_ts_us"),
        )
    )
    assert latest.exceptAll(batch).count() == 0
    assert batch.exceptAll(latest).count() == 0


def test_ivf_knn_recall_vs_bruteforce(spark):
    emb = table(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = sim_ops.brute_force_knn(queries, emb, k=5)
    approx = sim_ops.ivf_knn(queries, emb, k=5, nprobe=2)
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # every returned neighbor must come from a probed cell, and with
    # near-uniform synthetic data nprobe=2 of ~8 cells should still
    # recover a fair share of the true top-5
    assert recall >= 0.25, f"IVF recall collapsed: {recall}"
    assert len(approx_pairs) == len(exact_pairs)  # k found for every query


def test_approx_distinct_error_bound(spark):
    from mozart_etl_spark.io import table as t

    li = t(spark, SF, "lineitem")
    exact = {
        r["l_returnflag"]: r["n"]
        for r in li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("n")).collect()
    }
    approx = {
        r["l_returnflag"]: r["n_parts_approx"]
        for r in li.groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey", rsd=0.02).alias("n_parts_approx"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) / n <= 0.05, (k, n, approx[k])


def test_multimodal_feature_values(spark):
    """The stubbed featurizer is deterministic: check one row end to
    end through the Arrow/mapInPandas path."""
    from mozart_etl_spark.operators import multimodal as mm_ops

    docs = table(spark, SF, "documents").filter(F.col("doc_id") == 0)
    row = docs.select("text").first()
    mm = mm_ops.attach_binary_payload(docs)
    feat = mm_ops.extract_features(mm).collect()[0]
    expected = mm_ops._fake_features(row["text"].encode("utf-8"))
    assert feat["feat"] == expected
    assert feat["n_bytes"] == len(row["text"].encode("utf-8"))

def test_multimodal_null_text_degrades_to_empty_payload(spark):
    """NULL source text must not crash the Arrow batch (len(None)):
    it becomes the zero-byte payload with all-zero features, matching
    the oracle's coalesce(text, '') on both registered queries."""
    from mozart_etl_spark.operators import multimodal as mm_ops

    df = spark.createDataFrame([(1, None), (2, "ab")], "doc_id LONG, text STRING")
    mm = mm_ops.attach_binary_payload(df)
    rows = {r["doc_id"]: r for r in mm_ops.extract_features(mm).collect()}
    assert rows[1]["n_bytes"] == 0
    assert rows[1]["feat"] == [0.0] * 8
    assert rows[2]["n_bytes"] == 2


def test_embedding_lsh_dedup_recall_vs_exact(spark):
    """The scalable LSH embedding-dedup entry must recover >= 0.9 of
    the exact all-pairs cosine>=0.95 pairs (its oracle twin). The
    synthetic corpus has no near-dup pairs, so both sides run over the
    exact twin's augmented probe set (scaled twins of the first 20
    vectors, cosine exactly 1) — the recall assertion is non-vacuous."""
    from mozart_etl_spark.querybank import REGISTRY, _ensure_loaded

    _ensure_loaded()
    exact = REGISTRY["dedup_embedding_cosine"].fn(spark, SF)
    exact_pairs = {(r["doc_a"], r["doc_b"]) for r in exact.collect()}
    assert exact_pairs, "augmented probe set must contain near-dup pairs"

    # same augmented input the exact twin scans (scaling preserves the
    # random-projection signs, so LSH must bucket twin with original)
    emb = table(spark, SF, "embeddings").filter(F.col("vec_id") < 500)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    casted = emb.select("vec_id", v.alias("embedding"))
    twins = casted.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * F.lit(0.5)).alias("embedding"),
    )
    aug = casted.unionByName(twins)
    approx = sim_ops.lsh_near_dup_pairs(aug, dim=64, threshold=0.95)
    approx_pairs = {(r["doc_a"], r["doc_b"]) for r in approx.collect()}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.9, f"embedding LSH dedup recall collapsed: {recall}"
    # rescoring is exact, so no false positives below the threshold
    assert approx_pairs <= exact_pairs


def test_approx_percentile_error_bound(spark):
    """The self-checking query (r14) computes the GK estimates and the
    exact bracket in one pass: within_bound must come back TRUE for
    every group, and the emitted exact columns must equal the exact
    twin's values."""
    from mozart_etl_spark.querybank import REGISTRY, _ensure_loaded

    _ensure_loaded()
    exact = {
        r["o_orderpriority"]: (r["p25"], r["p50"], r["p75"], r["p90"])
        for r in REGISTRY["order_price_quantiles"].fn(spark, SF).collect()
    }
    rows = REGISTRY["order_price_quantiles_approx"].fn(spark, SF).collect()
    approx = {
        r["o_orderpriority"]: (r["p25_exact"], r["p50_exact"], r["p75_exact"], r["p90_exact"])
        for r in rows
    }
    assert set(exact) == set(approx)
    assert all(r["within_bound"] for r in rows), [
        r["o_orderpriority"] for r in rows if not r["within_bound"]
    ]
    for grp, ex in exact.items():
        assert ex == approx[grp], (grp, ex, approx[grp])


def test_sketch_rollup_error_bound_and_merge(spark):
    """Day sketches unioned to per-type totals land within HLL error
    of the exact distinct count — re-aggregation loses nothing."""
    from mozart_etl_spark.querybank import REGISTRY, _ensure_loaded

    _ensure_loaded()
    ev = table(spark, SF, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    rows = REGISTRY["events_user_sketch_rollup"].fn(spark, SF).collect()
    rolled = {r["event_type"]: r["n_users_exact"] for r in rows}
    assert rolled == exact
    # the 5% day->type union error bound now travels IN the query
    # (r14 self-check); a merge that loses members flips the boolean
    assert all(r["within_bound"] for r in rows), [
        r["event_type"] for r in rows if not r["within_bound"]
    ]


def test_stream_merge_to_table_idempotent(spark, tmp_path):
    """foreachBatch keyed merge: a drained stream materializes the
    table, and re-draining the same source (fresh checkpoint, i.e. a
    full replay) leaves the same keyed state — no duplicates."""
    from mozart_etl_spark.streaming import stream_merge_to_table

    tbl = "default.stream_merge_check"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    stream = events_stream(spark, SF).select("event_id", "user_id", "event_type", "value")
    n1 = stream_merge_to_table(stream, tbl, ("event_id",), str(tmp_path / "ckpt1"))
    batch_n = table(spark, SF, "events").count()
    assert n1 == batch_n
    # replay from scratch: at-least-once delivery, exactly-once state
    stream2 = events_stream(spark, SF).select("event_id", "user_id", "event_type", "value")
    n2 = stream_merge_to_table(stream2, tbl, ("event_id",), str(tmp_path / "ckpt2"))
    assert n2 == batch_n
    spark.sql(f"DROP TABLE {tbl}")


@contextmanager
def _state_store_counts(spark):
    """Collect ``stateOperators[*].numShufflePartitions`` from the
    progress of every streaming micro-batch run inside the block."""
    from pyspark.sql.streaming import StreamingQueryListener

    counts: list[int] = []

    class _Stores(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            counts.extend(op.numShufflePartitions for op in event.progress.stateOperators)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Stores()
    spark.streams.addListener(listener)
    try:
        yield counts
        # progress events reach listeners through the listener bus
        # asynchronously; drain it before the caller reads the counts
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)


#: the session confs a bounded drain scopes (streaming/events._drain)
_SCOPED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.checkpointFileManagerClass",
)


def _scoped(spark) -> dict[str, str | None]:
    return {k: spark.conf.get(k, None) for k in _SCOPED_CONFS}


def test_drain_state_partitions_scoping(spark):
    """Bounded drains run their stateful stage in one task wave: both
    drains run every state operator with ``min(8, defaultParallelism)``
    stores, and every conf the drain scoped is restored afterwards — a
    leaked partition count would silently resize every later batch
    shuffle in the session."""
    import tempfile

    from mozart_etl_spark.streaming import hourly_counts_stream, stream_merge_to_table

    one_wave = min(8, spark.sparkContext.defaultParallelism)
    prev = _scoped(spark)
    with _state_store_counts(spark) as counts:
        out = run_to_memory(
            hourly_counts_stream(events_stream(spark, SF)),
            f"sp_scope_{uuid.uuid4().hex[:8]}",
        )
    assert counts and set(counts) == {one_wave}
    assert out.count() > 0
    assert _scoped(spark) == prev

    tbl = "default.sp_scope_merge_check"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    ckpt = tempfile.mkdtemp(prefix="sp_scope_ckpt_")
    with _state_store_counts(spark) as counts:
        n = stream_merge_to_table(
            hourly_counts_stream(events_stream(spark, SF)),
            tbl, ("window_start_us", "event_type"), ckpt,
        )
    assert counts and set(counts) == {one_wave}
    assert n == out.count()
    assert _scoped(spark) == prev
    spark.sql(f"DROP TABLE {tbl}")


def test_final_no_data_batch_scoping(spark):
    """The r15 bounded-drain no-data-batch skip: for an inner
    stream-stream join every match is emitted in the data batch, so
    draining with ``final_no_data_batch=False`` must yield the
    identical row set while the scoped
    ``noDataMicroBatches.enabled`` conf is restored afterwards — a
    leaked false would silently defer state cleanup (and append-mode
    window emission) for every later streaming query in the session."""
    from mozart_etl_spark.streaming import click_view_interval_join

    prev = _scoped(spark)

    def drain(skip: bool):
        out = run_to_memory(
            click_view_interval_join(events_stream(spark, SF)),
            f"ndb_{uuid.uuid4().hex[:8]}",
            output_mode="append",
            final_no_data_batch=not skip,
        )
        return sorted(
            (r["click_id"], r["c_user"], r["view_ts"]) for r in out.collect()
        )

    with_batch = drain(skip=False)
    assert _scoped(spark) == prev
    without_batch = drain(skip=True)
    assert _scoped(spark) == prev
    assert with_batch == without_batch and len(with_batch) > 0


class _StuckQuery:
    """A query still running at the drain's deadline; ``stop`` records
    the confs in force when it is called."""

    isActive = True

    def __init__(self, spark, at_stop: list):
        self._spark, self._at_stop = spark, at_stop

    def awaitTermination(self, timeout):
        return False

    def stop(self):
        self._at_stop.append(_scoped(self._spark))


class _Writer:
    """The ``DataStreamWriter`` calls ``_drain`` makes, with ``start``
    supplied by the test."""

    def __init__(self, start):
        self.start = start

    def trigger(self, availableNow):
        return self


@pytest.mark.parametrize("prev_manager", [None, "prior.Manager"])
@pytest.mark.parametrize("failure", ["timeout", "start_raises"])
def test_drain_restores_confs_when_it_fails(spark, failure, prev_manager, monkeypatch):
    """A drain that times out or whose ``start()`` raises still restores
    every conf it scoped, whether or not the session had set a
    checkpoint manager; a timed-out query is stopped while the drain's
    confs are still in force."""
    from mozart_etl_spark.streaming import events

    monkeypatch.setattr(events, "_DRAIN_TIMEOUT_S", 1)

    key = "spark.sql.streaming.checkpointFileManagerClass"
    if prev_manager is not None:
        spark.conf.set(key, prev_manager)
    try:
        before = _scoped(spark)
        at_stop: list = []

        def start():
            if failure == "start_raises":
                raise RuntimeError("start failed")
            return _StuckQuery(spark, at_stop)

        expected, message = (
            (TimeoutError, "stuck drain did not drain in 1s")
            if failure == "timeout"
            else (RuntimeError, "start failed")
        )
        with pytest.raises(expected, match=message):
            events._drain(spark, _Writer(start), "stuck drain", False, None)
        assert _scoped(spark) == before
        if failure == "timeout":
            assert at_stop == [
                {
                    "spark.sql.shuffle.partitions": str(events._state_stores(spark)),
                    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
                    key: events._FS_CHECKPOINT_MANAGER,
                }
            ]
    finally:
        spark.conf.unset(key)


def test_remote_checkpoint_keeps_spark_default_manager(spark):
    """Only a checkpoint on the local filesystem switches the manager."""
    from mozart_etl_spark.io import local_path

    assert local_path(spark, "/tmp/ckpt") == "/tmp/ckpt"
    assert local_path(spark, "file:///tmp/ckpt") == "/tmp/ckpt"
    assert local_path(spark, "hdfs://namenode:8020/ckpt") is None
    assert local_path(spark, "s3a://bucket/ckpt") is None

    from mozart_etl_spark.streaming import events

    key = "spark.sql.streaming.checkpointFileManagerClass"
    managers: list = []

    def start():
        managers.append(spark.conf.get(key, None))
        raise RuntimeError("start failed")

    with pytest.raises(RuntimeError):
        events._drain(spark, _Writer(start), "remote drain", False, "s3a://bucket/ckpt")
    assert managers == [None]


def test_continuous_aggregate_removes_its_checkpoint(spark, tmp_path, monkeypatch):
    """The continuous aggregate's private checkpoint goes once the drain
    returns; the table it filled stays."""
    import tempfile

    from mozart_etl_spark import querybank

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = querybank.queries()["streaming_continuous_aggregate"](spark, SF)
    assert out.count() > 0
    assert not list(tmp_path.glob("ca_ckpt_*"))


#: the registered queries that drain a stream (run_to_memory or
#: stream_merge_to_table)
_STREAMING_DRAINS = (
    "streaming_hourly_counts",
    "streaming_sessionize",
    "streaming_running_totals",
    "streaming_continuous_aggregate",
    "streaming_interval_join",
)


def _canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, (float, decimal.Decimal)):
        return "NaN" if math.isnan(v) else f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def _value_hash(rows: list[dict]) -> str:
    """Order-insensitive hash: columns by name, floats to 6 decimals,
    rows sorted (the benchmark's golden hash)."""
    cols = sorted(rows[0]) if rows else []
    canon = sorted("\x1f".join(_canon(r[c]) for c in cols) for r in rows)
    return hashlib.sha256("\x1e".join(canon).encode()).hexdigest()[:16]


@pytest.mark.parametrize("name", _STREAMING_DRAINS)
def test_state_store_count_changes_no_output(spark, monkeypatch, name):
    """A drain's output does not depend on how many state stores it
    runs with: each streaming query gives the same value hash drained
    with 1 store and with 8."""
    from mozart_etl_spark import querybank
    from mozart_etl_spark.streaming import events as stream_events

    build = querybank.queries()[name]
    hashes = {}
    for stores in (1, 8):
        monkeypatch.setattr(stream_events, "_state_stores", lambda _spark, n=stores: n)
        with _state_store_counts(spark) as counts:
            rows = [r.asDict(recursive=True) for r in build(spark, SF).collect()]
        assert counts and set(counts) == {stores}
        assert rows
        hashes[stores] = _value_hash(rows)
    assert hashes[1] == hashes[8]


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Restart semantics of every sink in streaming/: a drain that
    resumes from the SAME checkpoint must process only files that
    arrived since the previous drain (exactly-once over the file
    source), not replay history."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    pq.write_table(
        pa.table({"id": list(range(100)), "v": [2 * i for i in range(100)]}),
        src / "f1.parquet",
    )

    def drain() -> int:
        processed: list[int] = []

        def _count(batch_df, batch_id):
            processed.append(batch_df.count())

        q = (
            spark.readStream.schema("id BIGINT, v BIGINT")
            .parquet(str(src))
            .writeStream.foreachBatch(_count)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        assert not q.isActive
        return sum(processed)

    assert drain() == 100
    pq.write_table(
        pa.table({"id": list(range(100, 130)), "v": [0] * 30}), src / "f2.parquet"
    )
    # resumed drain sees ONLY the new file's rows
    assert drain() == 30
    # nothing new => empty drain, not a replay
    assert drain() == 0


def test_event_time_ceiling_rejects_unparseable_string(spark):
    """An unparseable ceiling must raise EAGERLY at builder time (r12
    advisor close-out): F.lit(bad).cast('timestamp') yields NULL, the
    AND condition goes NULL for every row, and the corrupt-clock
    guard would itself silently drop ALL input — the exact silent
    total data loss it exists to prevent."""
    import pytest

    from mozart_etl_spark.streaming.events import hourly_counts_stream

    st = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("timestamp AS ts", "'click' AS event_type", "1.0 AS value")
    )
    with pytest.raises(ValueError, match="event_time_ceiling"):
        hourly_counts_stream(st, event_time_ceiling="not-a-timestamp")
    with pytest.raises(ValueError, match="event_time_ceiling"):
        hourly_counts_stream(st, event_time_ceiling="2025-13-45 99:00:00")
    # a valid ISO string still builds
    hourly_counts_stream(st, event_time_ceiling="2030-01-01 00:00:00")


def test_future_event_poisons_watermark_and_ceiling_guards_it(spark, tmp_path):
    """The FUTURE half of the corrupt-clock defense (r11
    extreme-timestamp axis), demonstrated on the realistic
    incremental shape — a checkpointed stream restarted with new
    data, exactly what stream_merge_to_table runs: one 2261-dated
    event in the first run raises the CHECKPOINTED event-time
    watermark past every genuine event, and the next run drops all
    its input as late and emits NOTHING — total silent data loss
    from one bad row (numRowsDroppedByWatermark confirms the drop).
    ``event_time_ceiling`` filters the poison before the watermark
    sees it. Within a SINGLE availableNow drain the poison is
    harmless on this Spark (measured: the late filter uses the
    watermark of the run's start), which is why the certified
    single-drain queries are immune and the ceiling is an
    off-by-default deployment knob rather than part of the certified
    contract."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mozart_etl_spark.streaming.events import hourly_counts_stream

    def write(d, name, rows, mtime):
        t = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], type=pa.int64()),
                "ts": pa.array([r[1] for r in rows], type=pa.timestamp("us")),
                "user_id": pa.array([1] * len(rows), type=pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        p = str(d / name)
        pq.write_table(t, p)
        os.utime(p, (mtime, mtime))

    h0 = dt.datetime(2024, 1, 1, 0, 10)
    h2 = dt.datetime(2024, 1, 1, 2, 10)
    poison = dt.datetime(2261, 4, 11, 23, 47, 16)

    def scenario(label, ceiling):
        base = tmp_path / label
        d = base / "events.parquet"
        d.mkdir(parents=True)
        ckpt = str(tmp_path / f"ckpt_{label}")
        rows = []

        def drain():
            st = events_stream(spark, str(base))
            agg = hourly_counts_stream(st, event_time_ceiling=ceiling)
            q = (
                agg.writeStream.foreachBatch(
                    lambda df, _epoch: rows.extend(r.asDict() for r in df.collect())
                )
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        # run 1: genuine hour-0 events + the poison row
        write(d, "part-0.parquet", [(1, h0), (2, h0), (3, h0), (99, poison)], 1_000_000)
        drain()
        rows.clear()
        # run 2 (same checkpoint): only genuine hour-2 events
        write(d, "part-1.parquet", [(4, h2), (5, h2)], 1_000_100)
        drain()
        return {r["window_start_us"]: r["n"] for r in rows}

    # 2024-01-01T02:00:00Z in epoch micros, written out so the test
    # never depends on the host's local timezone
    h2_us = 1_704_074_400 * 1_000_000

    poisoned = scenario("poisoned", None)
    # the checkpointed 2261 watermark classifies run 2's input as
    # late: nothing emits — one bad row silently loses all later data
    assert poisoned == {}, poisoned

    guarded = scenario("guarded", "2030-01-01 00:00:00")
    # with the poison filtered at ingest the second run aggregates
    # and emits its window normally
    assert guarded.get(h2_us) == 2, guarded
