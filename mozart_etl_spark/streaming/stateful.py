"""Custom stateful streaming operator via ``applyInPandasWithState``.

The escape hatch for streaming semantics Spark's built-in operators
can't express: arbitrary per-key state evolved batch-by-batch in
Arrow-vectorized Python. The example operator — per-user running
totals with first/last event times — is deliberately simple so the
*harness* (state schema, Arrow batch shape, availableNow drain) is
the tested artifact; swap the update body for real logic (fraud
scoring, CDC reconciliation, session enrichment).

No state timeout: the engine only runs bounded ``availableNow``
drains, and with a processing-time timeout pending, availableNow
keeps scheduling empty micro-batches until every timeout fires, so
the drain never terminates (observed: 376 epochs and no progress on a
30-min TTL). Evicting idle keys on an unbounded stream is the cluster
follow-up (SCALING.md); until then no key is evicted.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

#: Kernel-facing output: total_value rides as (value, is_nan) because
#: the pandas->Arrow hop treats NaN as pandas' null sentinel — an
#: SQL-SUM-faithful NaN total would silently emerge as NULL (measured
#: r13 float-key axis). The wrapper reconstructs ``total_value`` with a
#: JVM-side CASE.
_KERNEL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("_total_is_nan", BooleanType()),
        StructField("first_ts_us", LongType()),
        StructField("last_ts_us", LongType()),
    ]
)

#: total_is_nan persists in STATE too: a NaN stored as DOUBLE state
#: would cross the same Arrow hop back as NULL on the next
#: micro-batch and silently reset the poisoned total.
_STATE_SCHEMA = (
    "n_events BIGINT, total_value DOUBLE, total_is_nan BOOLEAN, "
    "first_ts_us BIGINT, last_ts_us BIGINT"
)


def _update(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total, total_nan, first_us, last_us = (
        state.get if state.exists else (0, None, False, None, None)
    )
    total_nan = bool(total_nan)
    for pdf in batches:
        n += len(pdf)
        # SQL-SUM-faithful total (r13 float-key axis): the value
        # arrives as the (_value_filled, _value_valid) pair —
        # Arrow->pandas renders a NULL double as NaN, making it
        # indistinguishable from a GENUINE NaN value, and pandas'
        # default nan-SKIPPING sum then diverges from SQL SUM two
        # ways: a NaN measure must POISON the total (both engines'
        # SUM propagates NaN), and an all-NULL key must yield NULL
        # (not 0.0). The mask restores null semantics; the numpy
        # sum propagates NaN, which is then carried as the
        # explicit total_nan flag because neither the state tuple
        # nor the output frame can transport an NaN double across
        # the pandas->Arrow hop without it collapsing to NULL.
        vals = pdf["_value_filled"][pdf["_value_valid"]]
        if len(vals) and not total_nan:
            batch_sum = float(vals.to_numpy(dtype="float64").sum())
            if math.isnan(batch_sum):
                total, total_nan = None, True
            else:
                total = batch_sum if total is None else total + batch_sum
        # the timestamp reaches this kernel as the non-null
        # `_ts_us_filled` int64 + `_ts_valid` mask pair, NEVER as
        # a nullable ts_us column: Arrow->pandas converts int64
        # with nulls to FLOAT64, whose 53-bit mantissa silently
        # corrupts epoch-us beyond ~2255 (measured on the r11
        # extreme-timestamp axis: 9191836036854775 us ->
        # ...776.0 -> +1 us in the emitted state). The split
        # keeps the dtype int64 end-to-end; null semantics
        # (min/max skip nulls) ride the mask.
        ts = pdf["_ts_us_filled"][pdf["_ts_valid"]]
        if len(ts):
            lo, hi = int(ts.min()), int(ts.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
    state.update((n, total, total_nan, first_us, last_us))
    yield pd.DataFrame(
        [[user_id, n, total, total_nan, first_us, last_us]],
        columns=_KERNEL_SCHEMA.fieldNames(),
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Per-user running totals as a custom stateful operator.

    Emits one row per user per micro-batch with the cumulative state:
    ``user_id, n_events, total_value, first_ts_us, last_ts_us``. Input
    must carry ``user_id, value, ts_us``.
    """
    # null-split BEFORE Arrow: see the kernel comment — a nullable
    # int64 ts_us would cross the Arrow->pandas boundary as float64
    # and corrupt epoch-us beyond 2^53 (~year 2255)
    stream = stream.withColumn("_ts_valid", F.col("ts_us").isNotNull()).withColumn(
        "_ts_us_filled", F.coalesce(F.col("ts_us"), F.lit(0).cast("bigint"))
    )
    # same split for the value column (r13): NULL crosses Arrow as
    # NaN, so without the mask the kernel cannot give NULL values
    # SQL's skip-semantics AND genuine NaN values SQL's
    # poison-semantics at the same time
    stream = stream.withColumn("_value_valid", F.col("value").isNotNull()).withColumn(
        "_value_filled", F.coalesce(F.col("value").cast("double"), F.lit(0.0))
    )
    # project to exactly what the kernel reads (r15, guide §4.1): an
    # opaque grouped-map function defeats Catalyst's column pruning, so
    # without this select every event column — including the wide
    # `props` payload — is shuffled to the state partitions and shipped
    # through Arrow to the Python workers per micro-batch
    stream = stream.select(
        "user_id", "_ts_valid", "_ts_us_filled", "_value_valid", "_value_filled"
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=_KERNEL_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # reconstruct the NaN total JVM-side (see _KERNEL_SCHEMA): the
    # kernel cannot emit an NaN double through Arrow without it
    # collapsing to NULL
    return out.select(
        "user_id",
        "n_events",
        F.when(F.col("_total_is_nan"), F.lit(float("nan")))
        .otherwise(F.col("total_value"))
        .alias("total_value"),
        "first_ts_us",
        "last_ts_us",
    )
