"""Query bank: named queries with DuckDB oracle SQL.

Each entry pairs an idiomatic-PySpark implementation (DataFrame API,
Catalyst-optimizable) with an ANSI-SQL oracle string that DuckDB can
run against the same parquet tables. The driver harness compares the
two at sf=0.01 (row count + schema + order-insensitive value hash).

Determinism rules every query follows (so hashes are stable):

- every computed column is aliased identically on both sides;
- floating-point aggregates are ``round()``-ed on both sides (raw
  column passthrough is fine — same bits either way). The rounding
  contract is only well-defined for |x| < ~4.5e11: beyond that,
  10^4·x stops being exactly representable, 4dp is sub-ulp, and
  Spark's BigDecimal-exact rounding legitimately differs from
  DuckDB's multiply-rint in the last bit (measured r10: a one-ulp
  mismatch at 4.9e36 on a centroid mean containing a FLT_MAX-scale
  component). Data that large is valid input to the OPERATORS —
  the legal-extreme variant axis pins that at 1e9 — but oracle
  hash-equality assertions must keep rounded aggregates inside the
  exact range. A second instance at ANY magnitude (measured r11):
  a value whose decimal expansion lands EXACTLY on the round-half
  boundary — e.g. a quartile interpolation of cent prices hitting
  x.945, stored as the bit-identical double just below — splits the
  engines the same way (BigDecimal sees < half and rounds down;
  multiply-then-round lands on half and rounds away). The rule:
  round at a precision where the true value is exact (interpolated
  percentiles of d-decimal data at quarter/tenth fractions carry at
  most d+2 decimals — round(., 4) for cent prices), never at a
  coarser one that can create a half-point;
- timestamps are returned as epoch-microsecond BIGINTs, DATEs, or
  formatted strings — never engine-rendered local timestamps;
- ``LIMIT`` always follows a total order (explicit tie-breakers);
- integer-typed results are cast to BIGINT on both sides (DuckDB
  ``count``/``sum``/``rank`` widths differ from Spark's defaults).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible; rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}

#: A document's words in oracle SQL: the DuckDB twin of
#: :func:`~mozart_etl_spark.operators.text.split_words`. Oracles
#: interpolate it; they never spell it out.
WORDS_SQL = r"list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')"


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = (), doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


#: Driver-facing ordering. The driver harness records CORRECTNESS
#: rows for exactly the first 50 entries of ``queries()`` in dict
#: order, so entry order decides which queries get certified each
#: round.
#: Round-16 rotation (changed queries lead, then the oldest rows):
#: (a) the 5 streaming drains, whose state-store count changed this
#: round (one task wave per bounded drain), lead so the driver
#: hash-certifies every touched query; (b) the 13 r13-dated rows the
#: r15 rotation deferred to this round; (c) the 32 fastest r14-dated
#: rows (BENCH_FULL.json timings) fill the window. The 11 slowest
#: r14-dated rows that don't fit — events_funnel, corpus_clean,
#: large_order_customers, decimal_uplift_totals,
#: corpus_chunks_overlap, part_name_typo_pairs,
#: order_price_quantiles_approx, orders_column_profile,
#: regional_supplier_revenue, etl_mart_customer,
#: distinct_parts_approx — stay one-round-stale and rotate first next
#: round. After this round no registered query's latest row is older
#: than r14. COVERAGE.md carries the per-query round map.
DRIVER_PRIORITY: tuple[str, ...] = (
    # (a) the 5 streaming drains changed this round — certify first
    "streaming_hourly_counts",
    "streaming_sessionize",
    "streaming_running_totals",
    "streaming_continuous_aggregate",
    "streaming_interval_join",
    # (b) the 13 r13-dated rows the r15 rotation deferred
    "event_props_json",
    "events_sessionize",
    "revenue_cube",
    "big_spenders",
    "distinct_parts_per_flag",
    "lineitem_stats",
    "dedup_simhash",
    "small_quantity_revenue",
    "top_orders_revenue",
    "order_price_quantiles",
    "text_tfidf_top_terms",
    "corpus_shard_plan",
    "text_bigram_cross_entropy",
    # (c) the 32 fastest r14-dated rows fill the window; the 11
    # slowest stay one-round-stale and rotate first next round
    # (window driver runtime stays bounded)
    "segment_nation_list",
    "text_token_stats",
    "dedup_exact",
    "incremental_range_scan",
    "part_name_word_counts",
    "text_fingerprint",
    "events_hourly_histogram",
    "party_nation_counts",
    "embedding_centroids",
    "customers_with_orders",
    "customers_without_recent_orders",
    "text_quality_score",
    "corpus_pack_sequences",
    "embedding_quantize_check",
    "multimodal_frame_sample",
    "events_intervisit_gaps",
    "multimodal_features",
    "multimodal_resize_grid",
    "events_orphan_users",
    "corpus_source_cap",
    "high_value_only_custkeys",
    "nation_revenue_rank",
    "events_user_sketch_rollup",
    "text_top_bigrams",
    "both_segments_nations",
    "events_markov_transitions",
    "nation_revenue_running_share",
    "range_join_click_views",
    "customer_order_distribution",
    "nation_market_share",
    "disjunctive_filter_revenue",
    "events_salted_enrich",
)


def _ordered_registry() -> dict[str, QuerySpec]:
    _ensure_loaded()
    out: dict[str, QuerySpec] = {}
    for name in DRIVER_PRIORITY:
        if name in REGISTRY:
            out[name] = REGISTRY[name]
    for name, spec in REGISTRY.items():
        if name not in out:
            out[name] = spec
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in _ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in _ordered_registry().items() if spec.oracle is not None
    }


_LOADED = False


def _ensure_loaded() -> None:
    global _LOADED
    if _LOADED:
        return
    # import for side effect: @register calls populate REGISTRY
    from . import relational  # noqa: F401
    from . import relational_adv  # noqa: F401
    from . import llmops  # noqa: F401
    from . import engine  # noqa: F401
    from . import streaming_queries  # noqa: F401
    from . import corpus  # noqa: F401

    _LOADED = True
