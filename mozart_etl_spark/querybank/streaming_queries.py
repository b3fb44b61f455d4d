"""Structured-Streaming queries under the correctness gate.

Each entry drains the events file-source stream with
``trigger(availableNow=True)`` into a memory sink and returns the
result as a batch DataFrame, so the driver harness can hash-compare it
against a DuckDB oracle — the strongest check available for streaming
semantics: the watermarked streaming plan must equal the batch SQL on
a bounded replay. The same code path runs unbounded in production.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming import (
    click_view_interval_join,
    events_stream,
    hourly_counts_stream,
    run_to_memory,
    running_user_totals,
    sessionize_stream,
)
from . import register

#: one copy of each batch-equivalence oracle — the sessionize and
#: hourly oracles certify BOTH the streaming drain and the batch twin;
#: duplicated strings silently diverge. Both carry the engine-wide
#: NULL-timestamp policy (streaming/events.py): time-ordered event
#: operators exclude NULL-ts rows explicitly in BOTH engines —
#: without the WHERE, DuckDB keeps a NULL session/window group that
#: Spark's TimeWindow/session_window implicitly drop (found by the r9
#: NULL-ts edges injection, tools/variant_testdata.py). Both also
#: carry the r11 pre-epoch floor: Spark's watermark initializes at
#: epoch 0 and its late/eviction predicates drop pre-1970 rows in
#: mode-dependent ways (measured: session windows and the update-mode
#: rollup sink drop them, append tumbling keeps them) — the explicit
#: symmetric floor in the operator and these oracles makes the
#: behavior deterministic.
_SESSIONIZE_ORACLE = """
        WITH e AS (
            SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
              AND ts >= TIMESTAMP '1970-01-01'
        ), marked AS (
            SELECT user_id, ts_us,
                   CASE WHEN ts_us - lag(ts_us) OVER w >= 1800000000
                        OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
        ), numbered AS (
            SELECT user_id, ts_us,
                   sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING
                   ) AS sid
            FROM marked
        )
        SELECT user_id,
               min(ts_us) AS session_start_us,
               max(ts_us) AS last_event_us,
               count(*)   AS n_events
        FROM numbered
        GROUP BY user_id, sid
    """

_HOURLY_ORACLE = """
        SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS window_start_us,
               event_type,
               count(*)             AS n,
               round(sum(value), 2) AS total_value
        FROM events
        WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01'
        GROUP BY 1, 2
    """



@register(
    "streaming_hourly_counts",
    tags=("streaming", "events", "window"),
    doc="Watermarked tumbling-window aggregation (1h windows, 2h "
    "watermark) per event type, drained with availableNow. Window "
    "bounds as epoch-us; equal to the batch GROUP BY date_trunc.",
    oracle=_HOURLY_ORACLE,
)
def streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    agg = hourly_counts_stream(stream)
    return run_to_memory(agg, f"hourly_{uuid.uuid4().hex[:8]}")


@register(
    "streaming_sessionize",
    tags=("streaming", "events", "session"),
    doc="Native session_window sessionization (30 min gap) per user, "
    "drained with availableNow. Oracle is the classic gaps-and-islands "
    "SQL — a hash match proves Spark's merge semantics equal the "
    "strict-gap island definition. NULL-ts and NULL-identity events "
    "are excluded by the operator on both sides (streaming/events.py; "
    "r9 orphan-FK axis: sessions require identity, and the phantom "
    "NULL user would be an unbounded hot state-store key).",
    oracle=_SESSIONIZE_ORACLE,
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    sessions = sessionize_stream(stream, gap="30 minutes")
    out = run_to_memory(sessions, f"sessions_{uuid.uuid4().hex[:8]}")
    return out.select("user_id", "session_start_us", "last_event_us", "n_events")


@register(
    "streaming_running_totals",
    tags=("streaming", "events", "stateful", "pandas-udf"),
    doc="Custom stateful operator (applyInPandasWithState): per-user "
    "running totals with first/last event time, Arrow-batched per-key "
    "state. Drained with availableNow the cumulative state equals the "
    "batch aggregate — which is the oracle. NULL-ts policy: a keyed "
    "(not time-ordered) aggregate, so NULL-ts events COUNT toward "
    "n_events/total_value while first/last_ts_us skip them — the "
    "aggregate NULL-skipping both engines already share; no filter.",
    oracle="""
        SELECT user_id,
               count(*)                                     AS n_events,
               round(sum(value), 2)                         AS total_value,
               min(epoch_us(CAST(ts AS TIMESTAMP)))         AS first_ts_us,
               max(epoch_us(CAST(ts AS TIMESTAMP)))         AS last_ts_us
        FROM events
        GROUP BY user_id
    """,
)
def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    stream = events_stream(spark, sf_dir)
    out = run_to_memory(
        running_user_totals(stream),
        f"totals_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    # One emitted row per user per micro-batch; the final cumulative
    # state is the row with the highest n_events (monotone counter —
    # unlike total_value, which is NOT monotone when event values can
    # be negative, so max(total_value) would be wrong on a multi-batch
    # drain). Take every field from that single row.
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    latest = (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
            "first_ts_us",
            "last_ts_us",
        )
    )
    return latest


@register(
    "streaming_continuous_aggregate",
    tags=("streaming", "events", "sink", "rollup"),
    doc="Continuous aggregate: the watermarked hourly rollup runs in "
    "update mode and foreachBatch-merges each micro-batch's changed "
    "groups into a catalog table keyed on (window_start_us, "
    "event_type) — a queryable rollup that converges to the batch "
    "GROUP BY (the oracle) without ever recomputing it. The "
    "incremental twin of the reference's cron'd full-refresh marts.",
    oracle=_HOURLY_ORACLE,
)
def streaming_continuous_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..streaming import stream_merge_to_table

    stream = events_stream(spark, sf_dir)
    agg = hourly_counts_stream(stream)
    run_id = uuid.uuid4().hex[:8]
    tbl = f"default.continuous_hourly_{run_id}"
    ckpt = tempfile.mkdtemp(prefix=f"ca_ckpt_{run_id}_")
    try:
        n = stream_merge_to_table(agg, tbl, ("window_start_us", "event_type"), ckpt)
    finally:
        # the drain is over: nothing resumes from this private
        # checkpoint, and the table it filled does not need it
        shutil.rmtree(ckpt, ignore_errors=True)
    if n == 0 and not spark.catalog.tableExists(tbl):
        # all-empty drain: the sink never created the table — an empty
        # source means an empty rollup, not a missing-table crash
        return spark.createDataFrame([], agg.schema)
    return spark.table(tbl)


@register(
    "streaming_interval_join",
    tags=("streaming", "events", "stream-stream-join"),
    doc="Stream-stream interval join: clicks join the same user's "
    "views within the preceding hour, both sides watermarked and the "
    "join time-bounded so state stays finite on an unbounded run. "
    "Drained with availableNow, then the emitted pairs are folded to "
    "the per-click view-count histogram — equal to the batch range "
    "join (range_join_click_views) on post-epoch data; this oracle "
    "additionally carries the streaming pre-epoch event-time floor "
    "(r11 extreme-timestamp axis — join-state eviction sits below "
    "the epoch-0 initial watermark for pre-1970 rows, so the "
    "streamed drain dropped a 1902 pair the batch join kept; the "
    "floor makes it deterministic and symmetric).",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
            FROM events
            WHERE event_type IN ('view', 'click')
            AND ts IS NOT NULL
            AND ts > TIMESTAMP '1970-01-01'
        ), per_click AS (
            SELECT c.event_id, count(*) AS n_views
            FROM e c JOIN e v
              ON v.user_id = c.user_id
             AND c.event_type = 'click' AND v.event_type = 'view'
             AND v.ts_us >  c.ts_us - 3600000000
             AND v.ts_us <= c.ts_us
            GROUP BY c.event_id
        )
        SELECT n_views, CAST(count(*) AS BIGINT) AS n_clicks
        FROM per_click
        GROUP BY n_views
    """,
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = events_stream(spark, sf_dir)
    pairs = click_view_interval_join(stream)
    drained = run_to_memory(
        pairs,
        f"ssjoin_{uuid.uuid4().hex[:8]}",
        output_mode="append",
        # inner stream-stream join: every match is emitted in the data
        # batch; the trailing zero-row watermark batch only evicts
        # state (r15, measured 0.8-0.9 s of the 2.6 s drain at sf0.1;
        # output proven identical)
        final_no_data_batch=False,
    )
    per_click = drained.groupBy("click_id").agg(F.count(F.lit(1)).alias("n_views"))
    return per_click.groupBy("n_views").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clicks")
    )


@register(
    "events_sessionize",
    tags=("events", "session", "window"),
    doc="Batch twin of streaming_sessionize: the same session_window "
    "operator applied to the batch events table — batch/stream parity "
    "is by construction (one implementation, two execution modes), "
    "including the NULL-ts and NULL-identity exclusions the operator "
    "carries (streaming/events.py NULL-timestamp policy; r9 "
    "orphan-FK axis: sessions require identity).",
    oracle=_SESSIONIZE_ORACLE,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..io import table

    ev = table(spark, sf_dir, "events").withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    # literally the streaming operator applied to a batch frame —
    # Catalyst drops the no-op watermark on batch plans, so parity is
    # one implementation, not two kept-in-sync copies
    return sessionize_stream(ev, gap="30 minutes")
