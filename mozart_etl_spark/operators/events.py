"""Event-stream analytics operators.

Reference parity: the reference's event analyses live in dbt models
over its RDB (mozart-ETL `dbt/models/`); here they are reusable
DataFrame operators so the same fold serves ad-hoc queries, models,
and tests.

**NULL-identity policy** (r9 orphan-FK axis, engine-wide): operators
that RELATE events to each other within an identity partition —
sessions, funnels, transitions, inter-visit gaps, retention streaks,
as-of matches — require that identity and EXCLUDE NULL-key events
explicitly: window ``partitionBy``/``groupBy`` would otherwise pool
every anonymous event into one phantom participant, fabricating
relationships between different real people (and minting the hottest
grouping key in a 100 TB corpus), while SQL's equi-join formulations
of the same analyses drop NULL keys — two engines, two silent
answers. Operators that AGGREGATE independently within groups
(counts, histograms, latest-per-key, running totals) keep the NULL
group — faithful SQL GROUP BY semantics, identical in both engines.
Each operator's docstring states which side of the line it is on;
the edges variant sweep (1-in-43 NULL user_id) pins the contracts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_stage_times(
    df: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """Strict-sequence funnel over ``user_id``, ``event_type`` and
    ``ts_us``: per user, the earliest timestamp at which each stage
    was reached, where stage ``i`` only counts events strictly after
    the user's stage ``i-1`` time (greedy
    earliest-qualifying, which equals the nested min-after-min
    definition — the DuckDB oracle of ``events_funnel`` uses that
    form). Events of types outside ``stages`` are ignored; ties at
    the same timestamp order by event-type string (the sort key is
    the (ts, type) struct), and a same-timestamp event can NOT
    satisfy the next stage (strict ``>``).

    Output: one row per user with a BIGINT epoch-us column per stage
    (named after the stage), NULL where the funnel stopped.

    NULL-ts policy (engine-wide, streaming/events.py): an event with
    no timestamp has no position in the sequence, so NULL-ts events
    are excluded explicitly — the fold's NULL comparisons would
    no-op them anyway, but a NULL-ts event must also never occupy a
    stage slot or lead the sorted array, so the filter is the
    contract, not an optimization.

    NULL-identity policy (r9 orphan-FK axis): a funnel participant
    requires an identity — events with NULL ``user_id`` are excluded
    explicitly. The alternatives are both wrong: pooling orphan
    events into one phantom "NULL user" journey (what a bare
    ``groupBy`` does — Spark and SQL group NULLs together) conflates
    unrelated anonymous sessions into a single fake participant that
    marches through every stage, and at 100 TB that phantom is also
    the hottest grouping key in the corpus; while SQL's equi-join
    funnel form (the oracle's ``JOIN ... USING (user_id)``
    min-after-min chain) silently counts the NULL group at stage 1
    but drops it from stage 2 onward, because NULL never equals NULL
    — an inconsistent hybrid. The explicit filter makes both engines
    state the same decision. Pinned by
    ``test_funnel_null_identity_events_are_excluded`` and the edges
    variant sweep (1-in-43 NULL user_id injection).

    Scale shape: ONE shuffle (the per-user collect_list groupBy); the
    fold runs JVM-side over each user's own sorted array. Per-user
    array size is bounded by events-per-user; corpora with
    pathological hot users would use the equivalent per-stage-join
    formulation instead.
    """
    if len(stages) < 1:
        raise ValueError("stages must name at least one event type")
    per_user = (
        df.filter(
            F.col("event_type").isin(*stages)
            & F.col("ts_us").isNotNull()
            & F.col("user_id").isNotNull()
        )
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list(F.struct(F.col("ts_us").alias("ts"), F.col("event_type").alias("et")))).alias("seq"))
    )
    init = F.struct(
        *[F.lit(None).cast("bigint").alias(f"s{i}") for i in range(len(stages))]
    )

    def step(acc, e):
        fields = []
        for i, stage in enumerate(stages):
            cond = acc[f"s{i}"].isNull() & (e["et"] == stage)
            if i > 0:
                cond = cond & acc[f"s{i-1}"].isNotNull() & (e["ts"] > acc[f"s{i-1}"])
            fields.append(F.when(cond, e["ts"]).otherwise(acc[f"s{i}"]).alias(f"s{i}"))
        return F.struct(*fields)

    state = F.aggregate(F.col("seq"), init, step)
    return per_user.select("user_id", state.alias("_s")).select(
        "user_id",
        *[F.col("_s").getField(f"s{i}").alias(stage) for i, stage in enumerate(stages)],
    )
