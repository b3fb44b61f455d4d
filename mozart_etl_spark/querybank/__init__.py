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
#: Round-19 rotation: (a) corpus_pii_scrub, the one query whose plan
#: changed this round (its synthetic text column is now named text);
#: (b) the 8 rows round 16 certified and rounds 17-18 did not, in the
#: order the round-18 comment named them; (c) the 41 oldest rows,
#: certified in round 17 and not since, in round 17's window order.
#: The 8 round-17 rows that don't fit — order_price_buckets,
#: text_lang_confusion, text_bpe_token_stats, events_key_skew_profile,
#: events_by_type, latest_event_per_user, top_supplier_revenue,
#: promo_revenue_ratio — rotate first next round. COVERAGE.md carries
#: the per-query round map.
DRIVER_PRIORITY: tuple[str, ...] = (
    # (a) plan changed this round
    "corpus_pii_scrub",
    # (b) certified in round 16, left out of rounds 17 and 18
    "both_segments_nations",
    "events_markov_transitions",
    "nation_revenue_running_share",
    "range_join_click_views",
    "customer_order_distribution",
    "nation_market_share",
    "disjunctive_filter_revenue",
    "events_salted_enrich",
    # (c) certified in round 17, left out of round 18
    "corpus_clean",
    "corpus_incremental_dedup",
    "customer_balance_deciles",
    "corpus_shard_plan",
    "dedup_components",
    "dedup_canonical",
    "regional_supplier_revenue",
    "distinct_parts_approx",
    "large_order_customers",
    "order_price_quantiles_approx",
    "events_funnel",
    "part_name_typo_pairs",
    "orders_column_profile",
    "decimal_uplift_totals",
    "etl_mart_customer",
    "corpus_chunks_overlap",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "corpus_span_scrub",
    "corpus_repeated_spans",
    "text_cooccurrence_pmi",
    "knn_lsh_cosine",
    "knn_ivf_cosine",
    "knn_bruteforce_cosine",
    "dedup_embedding_lsh",
    "dedup_embedding_cosine",
    "asof_click_view",
    "corpus_chunks",
    "corpus_decontaminate",
    "cross_nation_trade",
    "select_project_filter",
    "string_functions",
    "top_parts_by_price",
    "part_catalog_enriched",
    "corpus_sample_balanced",
    "corpus_shuffle_slice",
    "mart_item_master",
    "text_rolling_hash",
    "orders_by_year",
    "corpus_weighted_sample",
    "text_stopword_ratio",
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
