"""Streaming operators over the events table.

All operators take/return streaming DataFrames and are written so the
identical code path works on an unbounded source (Kafka/files landing
continuously) and on a drained replay (``availableNow``):

- event time comes from the data (``ts_us`` epoch-microseconds →
  TIMESTAMP), never processing time;
- **NULL-timestamp policy** (r9, pinned by the ``edges`` variant
  sweep): an event without a timestamp cannot be placed in event
  time, so every time-ordered operator here EXCLUDES NULL-ts rows
  with an explicit filter. The filter is load-bearing for oracle
  parity — Spark's windowed aggregations drop NULL event-time rows
  implicitly (TimeWindow injects ``isnotnull``) while SQL engines
  keep them as a NULL group, and Spark windows sort NULLS FIRST
  ascending where DuckDB sorts NULLS LAST — and it pushes to the
  parquet scan as ``IsNotNull(ts)``. Keyed (non-time-ordered)
  aggregates like ``running_user_totals`` deliberately KEEP NULL-ts
  rows: counts include them, first/last-seen skip them (both
  engines agree on aggregate NULL-skipping);
- **NULL-identity policy** (r9 orphan-FK axis, shared with
  operators/events.py): per-user SEQUENCE operators (sessionize)
  exclude NULL-identity events explicitly — pooling anonymous events
  welds different real people into fake sessions and makes the NULL
  user an unbounded hot state-store key; keyed AGGREGATES
  (running_user_totals, hourly counts) keep the NULL group, faithful
  SQL GROUP BY semantics. Stream-stream equi-joins need no filter:
  a NULL join key matches nothing in any engine;
- every stateful operator is watermarked so state is bounded — at
  100 TB/day the watermark is what keeps window state from growing
  without bound;
- aggregations shuffle once on their keys; session windows use
  Spark's native ``session_window`` (state-store backed).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..io import events_raw_schema, local_path, normalize_ts_us

#: Event-time watermark of every stateful operator here: how late an
#: event may arrive before its window, session or join state expires.
_WATERMARK = "2 hours"


def events_stream(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """File-source stream over the events parquet with the same
    normalized schema as the batch loader (``io._read_events``):
    ``event_id, ts_us BIGINT, user_id, event_type, value, props`` plus
    ``ts TIMESTAMP`` (event time) for windowing.

    A streaming file source requires a declared schema and reads file
    columns **by name**, so the declared schema must be the *raw* file
    schema (``ts`` as epoch-ns BIGINT under ``nanosAsLong``); the
    batch loader's epoch-us normalization is then applied on top —
    one normalization rule, two execution modes.
    """
    # the same read mode (nanosAsLong) and raw schema the batch path uses
    path = os.path.join(sf_dir, "events.parquet")
    raw_schema = events_raw_schema(spark, path)
    if os.path.isdir(path):
        # directory layout (normal Spark write: events.parquet/part-*):
        # stream the directory itself — a basename glob filter would
        # match ZERO part files and silently drain an empty stream
        reader = spark.readStream.schema(raw_schema)
        stream_path = path
    else:
        # single-file layout: the file stream source wants a directory,
        # so stream the parent with a glob selecting just this file
        reader = spark.readStream.schema(raw_schema).option(
            "pathGlobFilter", "events.parquet"
        )
        stream_path = sf_dir
    raw = reader.parquet(stream_path)
    # same three-form normalization as the batch loader (epoch-ns
    # BIGINT / TIMESTAMP_NTZ / TIMESTAMP) — one rule, two modes
    raw = normalize_ts_us(raw)
    return raw.withColumn("ts", F.timestamp_micros(F.col("ts_us")))


def hourly_counts_stream(stream: DataFrame, event_time_ceiling: str | None = None) -> DataFrame:
    """Watermarked one-hour tumbling-window counts per event type.

    Output: (window_start_us BIGINT, event_type, n, total_value) —
    window bounds as epoch-us so results are timezone-proof and
    SQL-comparable. NULL-ts events belong to no window and are
    excluded explicitly (module NULL-timestamp policy). Pre-epoch
    event times are excluded too (r11 extreme-timestamp axis):
    Spark's event-time watermark INITIALIZES AT EPOCH 0, so a
    pre-1970 row is late-by-construction on the very first batch and
    the drop depends on window type and output mode (measured: the
    update-mode rollup sink and session windows drop them, this
    append tumbling drain happens to keep them) — the explicit
    symmetric floor makes the behavior deterministic across modes
    and engines. A pre-epoch event time in a real stream is a
    corrupt clock, not data.

    ``event_time_ceiling`` (an ISO timestamp string) is the FUTURE
    half of the same corrupt-clock defense, off by default because
    the right bound is deployment wall-clock ("now + slack"), which
    no deterministic oracle can mirror: one far-future event in a
    micro-batch raises the event-time watermark past every genuine
    event, and ALL subsequent batches' data is dropped as late —
    silent, total data loss from one bad row (demonstrated live in
    tests/test_streaming.py::test_future_event_poisons_watermark_and_ceiling_guards_it
    with a two-batch file stream). Production deployments should set
    it; the certified single-file drains are immune (one batch, no
    later batch to poison).
    """
    cond = F.col("ts").isNotNull() & (F.col("ts") >= F.timestamp_micros(F.lit(0)))
    if event_time_ceiling is not None:
        # validate eagerly: an unparseable string would cast to NULL
        # inside the filter, the AND would be NULL for EVERY row, and
        # the corrupt-clock guard would itself silently drop all input
        # — the exact failure mode it exists to prevent
        import datetime

        try:
            datetime.datetime.fromisoformat(event_time_ceiling)
        except (TypeError, ValueError) as exc:
            raise ValueError(
                f"event_time_ceiling must be an ISO timestamp, got {event_time_ceiling!r}"
            ) from exc
        cond = cond & (F.col("ts") <= F.lit(event_time_ceiling).cast("timestamp"))
    return (
        stream.filter(cond)
        .withWatermark("ts", _WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionize_stream(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: consecutive events closer than ``gap``
    merge into one session (native ``session_window`` — state-store
    backed, watermark-bounded).

    Output: (user_id, session_start_us, session_end_us, n_events).
    ``session_end`` is last-event-time + gap by Spark's definition; we
    report the *last event time* (end - gap) so the result is defined
    purely by the data and matches the batch/SQL twin. NULL-ts events
    belong to no session and are excluded explicitly (module
    NULL-timestamp policy). NULL-identity events are excluded too
    (r9 orphan-FK axis): a session is one person's visit — pooling
    anonymous events would weld different real people's activity
    into fake sessions, and in a stream the phantom NULL user is
    also an ever-growing hot state-store key (sequence operators
    require identity — engine-wide policy, operators/events.py).
    Pre-epoch event times are excluded (r11 extreme-timestamp axis):
    the watermark initializes at epoch 0 and session-window state
    eviction MEASURABLY drops sessions whose end (last event + gap)
    precedes it on the first batch — 1902-dated sessions vanished
    from the drain while 1969-12-31 23:59:59.999999 ones (end > 0)
    survived. The explicit symmetric floor replaces that
    predicate-shaped accident with a deterministic contract.
    """
    return (
        stream.filter(
            F.col("ts").isNotNull()
            & F.col("user_id").isNotNull()
            & (F.col("ts") >= F.timestamp_micros(F.lit(0)))
        )
        .withWatermark("ts", _WATERMARK)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            # Spark parses the gap here with session_window's own parser
            F.unix_micros(F.col("w.end") - F.expr(f"INTERVAL '{gap}'")).alias("last_event_us"),
            "n_events",
        )
    )


def click_view_interval_join(stream: DataFrame) -> DataFrame:
    """Stream-stream interval join: each click pairs with the same
    user's views in the preceding hour.

    Both sides carry a watermark and the join condition bounds the
    event-time distance, so Spark can expire join state — the two
    requirements that make an unbounded stream-stream join run with
    finite state. Emits one row per (click, view) match in append
    mode as matches arrive.

    This is the streaming twin of the batch bucketed range join
    (``range_join_click_views``): same semantics, incremental
    execution. NULL-ts events are excluded on both sides (module
    NULL-timestamp policy) — the time-bounded join condition could
    never match them anyway, but the explicit filter keeps them out
    of watermark tracking and join state. Pre-epoch AND exactly-epoch
    event times are excluded on both sides too (r11
    extreme-timestamp axis): the join-state eviction predicates sit
    below Spark's epoch-0 initial watermark for pre-1970 rows, and —
    unlike the windowed builders, whose floor is inclusive — the
    stream-stream join's boundary predicates treat event-time EQUAL
    to the watermark as expired, so the floor here is STRICT. Both
    were caught by the sf0.01 extreme-ts sweep: a 1902-dated pair
    and then an exactly-epoch-0 pair present in the batch range join
    vanished from the streamed drain.
    """
    floor = F.timestamp_micros(F.lit(0))
    clicks = (
        stream.filter(
            (F.col("event_type") == "click")
            & F.col("ts").isNotNull()
            & (F.col("ts") > floor)
        )
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", _WATERMARK)
    )
    views = (
        stream.filter(
            (F.col("event_type") == "view")
            & F.col("ts").isNotNull()
            & (F.col("ts") > floor)
        )
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", _WATERMARK)
    )
    return clicks.join(
        views,
        F.expr(
            "c_user = v_user AND view_ts > click_ts - INTERVAL 1 hour AND view_ts <= click_ts"
        ),
        "inner",
    )


def _state_stores(spark: SparkSession) -> int:
    """State-store count for a bounded drain: one task wave, capped at 8.

    On a bounded replay the per-batch store open/commit cost, not data
    volume, sets a drain's wall time, so more stores than task slots
    pay for a second wave. Fewer stores than slots is not faster
    everywhere: the Python-state running totals drain at sf0.1 took
    3.45 s at 2 stores and 6.16 s at 1. 8 is r14's cap from the
    drained corpora's key cardinality (hundreds to thousands of keys),
    so a cluster, whose ``defaultParallelism`` exceeds 8, keeps 8."""
    return min(8, spark.sparkContext.defaultParallelism)


#: seconds a bounded drain may run before it is stopped and raises
_DRAIN_TIMEOUT_S = 300

#: Spark's FileSystem-API checkpoint manager (the class moved to the
#: ``checkpointing`` package in Spark 4.1;
#: tests/test_spark_canaries.py fails if it moves again)
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    what: str,
    final_no_data_batch: bool,
    checkpoint: str | None,
) -> None:
    """Run ``writer`` with ``availableNow`` to the end of its input, with
    ``spark.sql.shuffle.partitions`` scoped to :func:`_state_stores` and,
    unless ``final_no_data_batch``, the trailing no-data micro-batch
    switched off. A local ``checkpoint`` (``None`` is Spark's temp
    checkpoint) is written through the FileSystem-API checkpoint
    manager. All three confs are restored afterwards. A query still
    running after :data:`_DRAIN_TIMEOUT_S` is stopped, then
    ``TimeoutError`` names ``what``.

    Spark's default manager renames through ``FileContext``, which on
    a host without the native Hadoop library forks ``readlink`` for
    every rename (drain A/B in SCALING.md). The FileSystem-API manager
    renames with ``File.renameTo``: POSIX ``rename(2)``, atomic, which
    is Spark's stated condition for that manager to be correct, and a
    bounded drain is its checkpoint's only writer. It writes the same
    checkpoint files, and either manager resumes the other's
    checkpoint. A remote checkpoint keeps Spark's default.

    The scoping is session-global: a CONCURRENT query in this session
    during the drain inherits the scoped confs; fine for a
    single-threaded harness, move to a dedicated session for
    concurrent use."""
    scoped = {"spark.sql.shuffle.partitions": str(_state_stores(spark))}
    if not final_no_data_batch:
        scoped["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    if checkpoint is None or local_path(spark, checkpoint) is not None:
        scoped["spark.sql.streaming.checkpointFileManagerClass"] = _FS_CHECKPOINT_MANAGER
    prev = {k: spark.conf.get(k, None) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(_DRAIN_TIMEOUT_S)
        # stop BEFORE the conf restore (r15 ADVICE): a still-running
        # query must not outlive the scoped conf it was started under
        if q.isActive:
            q.stop()
            raise TimeoutError(f"{what} did not drain in {_DRAIN_TIMEOUT_S}s")
    finally:
        # a conf the session had not set goes back to unset
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str = "complete",
    final_no_data_batch: bool = True,
) -> DataFrame:
    """Drain a (finite) streaming query into an in-memory table with
    ``availableNow`` and return the result as a batch DataFrame.

    ``complete`` mode emits every window regardless of watermark
    position — right for draining a bounded replay; a production
    unbounded query would use ``append`` + a real sink.

    The drain scopes ``spark.sql.shuffle.partitions`` to one task wave
    of state stores, ``min(8, defaultParallelism)``, and restores it
    afterwards: a streaming query materializes one state store per
    shuffle partition *per stateful operator* (a stream-stream join has
    two sides), so on a bounded replay the store count, not data, sets
    the drain's wall time. A query resumed from an existing checkpoint
    keeps the count its checkpoint was created with.

    ``final_no_data_batch=False`` scopes
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` for the
    drain (saved/restored like the store count). After the data
    batch, availableNow runs one more zero-row micro-batch purely to
    advance the watermark and evict state — every state store opens
    and commits again for no output (measured at sf0.1: 0.8-0.9 s of
    a 2.6 s stream-stream-join drain). Skipping it is sound ONLY for
    sinks whose rows do not come from watermark-driven eviction:
    inner stream-stream joins and update/complete-mode aggregations
    emit in the data batch itself. An append-mode windowed
    AGGREGATION emits its windows *in* the no-data batch — passing
    False there would silently drain zero rows, so the default stays
    True and call sites opt in per profiled query.

    Spark's temp checkpoint, or one under a local
    ``spark.sql.streaming.checkpointLocation``, is written through the
    FileSystem-API checkpoint manager for the drain (see :func:`_drain`).
    """
    spark = df.sparkSession
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    checkpoint = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    _drain(spark, writer, f"stream {name}", final_no_data_batch, checkpoint)
    return spark.table(name)
