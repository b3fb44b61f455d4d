"""Relational operator coverage (SURVEY.md §2.1–§2.4).

Each query exercises one or more inventory rows (cited per query) and
is written DataFrame-first: filters/projections sit directly on the
parquet scan so Catalyst pushes them down, small dimensions are
broadcast, and aggregates use partial (map-side) combine for free.

Scale notes are inline: every query here runs identically on
local[32]/sf0.1 and on a 1000-executor cluster at 100 TB — there are
no driver-side collects, no Python row UDFs, and no unbounded
cross products.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import table
from ..operators.agg import cascade_grouping_sets
from . import register

# ---------------------------------------------------------------------------
# Aggregation / scalar expressions
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    tags=("agg", "scan", "filter"),
    doc="TPC-H Q1 shape: wide aggregate over lineitem. Covers Q5/Q6 "
    "(GROUP BY, SUM/AVG/COUNT), P4 (conjunction), E5 (arithmetic). "
    "Ref surface: _tenant_factory.py:368-371 (arbitrary model SQL).",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                   AS sum_qty,
               round(sum(l_extendedprice), 2)                              AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 2)                                   AS avg_qty,
               round(avg(l_extendedprice), 2)                              AS avg_price,
               round(avg(l_discount), 4)                                   AS avg_disc,
               count(*)                                                    AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "select_project_filter",
    tags=("scan", "projection", "filter"),
    doc="P1 (column projection) + P2 (equality predicate) — the "
    "reference's extract-time SELECT list and tenant filter "
    "(base.py:56-58, 63-68). Pushdown reaches the parquet scan.",
    oracle="""
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE c_mktsegment = 'BUILDING'
    """,
)
def select_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name", "c_acctbal")
    )


@register(
    "part_catalog_enriched",
    tags=("projection", "scalar"),
    doc="Scalar expression pack: E1 (|| concat), E2 (COALESCE), E5 "
    "(numeric multiply, the demand_qty*1.1 uplift of "
    "stg_cfg_to_odv_demand.sql:39), E6 (::VARCHAR casts), E8 (alias).",
    oracle="""
        SELECT p_partkey,
               upper(p_brand)                                   AS brand_uc,
               p_brand || '_' || p_type                         AS brand_type,
               coalesce(p_name, 'UNKNOWN')                      AS item_name,
               CAST(p_size AS VARCHAR)                          AS size_str,
               round(p_retailprice * 1.1, 2)                    AS uplifted_price
        FROM part
    """,
)
def part_catalog_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_uc"),
        F.concat(F.col("p_brand"), F.lit("_"), F.col("p_type")).alias("brand_type"),
        F.coalesce(F.col("p_name"), F.lit("UNKNOWN")).alias("item_name"),
        F.col("p_size").cast("string").alias("size_str"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("uplifted_price"),
    )


@register(
    "mart_item_master",
    tags=("cte", "pipeline", "flagship"),
    doc="The reference's flagship chain (M1, SURVEY.md §7.3): raw -> "
    "staging (CTE passthrough + tenant filter, "
    "stg_cfg_item_master.sql) -> mart (casts + renames to the product "
    "schema, mart_item_master.sql:8-16). `part` stands in for "
    "cfg_item_master (FIXTURES.md §6).",
    oracle="""
        WITH source AS (
            SELECT * FROM part
        ), staged AS (
            SELECT * FROM source WHERE p_size > 10
        )
        SELECT CAST(p_partkey AS VARCHAR)   AS item_id,
               CAST(p_name AS VARCHAR)      AS item_name,
               CAST(p_type AS VARCHAR)      AS item_type,
               CAST(p_brand AS VARCHAR)     AS item_group_id,
               CASE WHEN p_size % 2 = 0 THEN 'MAKE' ELSE 'BUY' END AS procurement_type
        FROM staged
    """,
)
def mart_item_master(spark: SparkSession, sf_dir: str) -> DataFrame:
    source = table(spark, sf_dir, "part")
    staged = source.filter(F.col("p_size") > 10)  # template-time predicate (P6)
    return staged.select(
        F.col("p_partkey").cast("string").alias("item_id"),
        F.col("p_name").cast("string").alias("item_name"),
        F.col("p_type").cast("string").alias("item_type"),
        F.col("p_brand").cast("string").alias("item_group_id"),
        F.when(F.col("p_size") % 2 == 0, "MAKE").otherwise("BUY").alias("procurement_type"),
    )


@register(
    "order_price_buckets",
    tags=("scalar", "agg"),
    doc="CASE WHEN bucketing + aggregate (SURFACE E10/Q6). min/max "
    "inputs carry `+ 0.0` (r13 float-key axis): the representative of "
    "a ±0.0 tie under min/max is engine- and arrival-order-dependent "
    "(Spark emitted '0' where DuckDB emitted '-0' — found live by the "
    "signed-zero edge injection at sf0.01), and the signed-zero "
    "normalization is the one the whole bank uses (bit-identical for "
    "every other value, NaN included).",
    oracle="""
        SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                    WHEN o_totalprice < 150000 THEN 'medium'
                    ELSE 'large' END              AS bucket,
               count(*)                           AS n_orders,
               round(min(o_totalprice + 0.0), 2)  AS min_price,
               round(max(o_totalprice + 0.0), 2)  AS max_price
        FROM orders
        GROUP BY 1
    """,
)
def order_price_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    price0 = F.col("o_totalprice") + F.lit(0.0)
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min(price0), 2).alias("min_price"),
            F.round(F.max(price0), 2).alias("max_price"),
        )
    )


@register(
    "orders_by_year",
    tags=("scalar", "agg", "date"),
    doc="Date-part extraction + aggregate (SURFACE E10). Year cast to "
    "BIGINT on both sides for schema parity.",
    oracle="""
        SELECT CAST(extract(year FROM o_orderdate) AS BIGINT) AS order_year,
               count(*)                                       AS n_orders,
               round(sum(o_totalprice), 2)                    AS total_revenue
        FROM orders
        GROUP BY 1
    """,
)
def orders_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").cast("bigint").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        )
    )


@register(
    "string_functions",
    tags=("scalar", "string"),
    doc="String scalar library sample (SURFACE E10): lower/length/"
    "substr/trim/replace — identical semantics Spark vs DuckDB.",
    oracle="""
        SELECT s_suppkey,
               lower(s_name)                        AS name_lc,
               CAST(length(s_name) AS BIGINT)       AS name_len,
               substr(s_name, 1, 5)                 AS name_pfx,
               replace(s_name, '#', '-')            AS name_dash
        FROM supplier
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    return s.select(
        "s_suppkey",
        F.lower("s_name").alias("name_lc"),
        F.length("s_name").cast("bigint").alias("name_len"),
        F.substring("s_name", 1, 5).alias("name_pfx"),
        F.replace(F.col("s_name"), F.lit("#"), F.lit("-")).alias("name_dash"),
    )


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------


@register(
    "top_orders_revenue",
    tags=("join", "agg", "topk"),
    doc="TPC-H Q3 shape (Q4 joins + Q8 top-k): 3-way join, aggregate, "
    "total-order LIMIT. orders and customer both scale with the data "
    "so neither carries a broadcast hint — AQE converts to broadcast "
    "at runtime when the filtered side qualifies, and degrades to a "
    "shuffle join instead of OOMing at 100x.",
    oracle="""
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               CAST(o_orderdate AS DATE)                         AS orderdate,
               o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
)
def top_orders_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "regional_supplier_revenue",
    tags=("join", "agg"),
    doc="TPC-H Q5 shape: 6-way star join (region/nation broadcast), "
    "revenue per nation. Covers Q4 joins at depth; at 100 TB the "
    "dims broadcast and lineitem never shuffles for the dim joins.",
    oracle="""
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM region
        JOIN nation   ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name
    """,
)
def regional_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        # customer scales with SF — no hint; AQE broadcasts when small
        .join(c, (o.o_custkey == c.c_custkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@register(
    "customers_with_orders",
    tags=("join", "semi"),
    doc="Semi join (Q4): customers having at least one URGENT order.",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer
        WHERE c_custkey IN (
            SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        )
    """,
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "customers_without_recent_orders",
    tags=("join", "anti"),
    doc="Anti join (Q4): customers with no order in H1-1995 — the "
    "dedup/missing-row idiom a mart needs.",
    oracle="""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate < TIMESTAMP '1995-07-01 00:00:00'
        )
    """,
)
def customers_without_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-07-01 00:00:00").cast("timestamp")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@register(
    "party_nation_counts",
    tags=("setop", "agg"),
    doc="UNION ALL + aggregate (Q9): customers and suppliers pooled "
    "by nation with a source tag.",
    oracle="""
        SELECT src, nationkey, count(*) AS n
        FROM (
            SELECT 'customer' AS src, c_nationkey AS nationkey FROM customer
            UNION ALL
            SELECT 'supplier' AS src, s_nationkey AS nationkey FROM supplier
        )
        GROUP BY src, nationkey
    """,
)
def party_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("src"), F.col("c_nationkey").alias("nationkey")
    )
    s = table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("src"), F.col("s_nationkey").alias("nationkey")
    )
    return c.unionByName(s).groupBy("src", "nationkey").agg(F.count(F.lit(1)).alias("n"))


@register(
    "high_value_only_custkeys",
    tags=("setop",),
    doc="EXCEPT (Q9): custkeys appearing in >150k orders but never in "
    "<20k orders.",
    oracle="""
        SELECT o_custkey FROM orders WHERE o_totalprice > 150000
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_totalprice < 20000
    """,
)
def high_value_only_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 150000).select("o_custkey")
    lo = o.filter(F.col("o_totalprice") < 20000).select("o_custkey")
    # subtract == set EXCEPT (exceptAll would keep surplus multiplicities)
    return hi.subtract(lo)


@register(
    "both_segments_nations",
    tags=("setop",),
    doc="INTERSECT (Q9): nations present in both BUILDING and "
    "MACHINERY customer segments.",
    oracle="""
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
)
def both_segments_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_nationkey")
    return a.intersect(b)


# ---------------------------------------------------------------------------
# Windows / ranking / dedup idioms
# ---------------------------------------------------------------------------


@register(
    "latest_event_per_user",
    tags=("window", "dedup", "events"),
    doc="Q7 window dedup: row_number() over (partition by key order by "
    "recency) = 1 — the standard staging dedup idiom. Timestamps "
    "returned as epoch-us BIGINT (ns parquet truncates identically "
    "in Spark and DuckDB). NULL-ts decision (r9 NULL-ts edge axis): "
    "NULL-ts events sort LAST on both sides, made EXPLICIT "
    "(desc_nulls_last / DESC NULLS LAST) rather than inherited from "
    "engine defaults that merely coincide today (Spark DESC implies "
    "NULLS LAST; DuckDB's default_null_order is a runtime setting) — "
    "so a user's latest event is NULL-ts only when ALL their events "
    "lack timestamps, picked deterministically by event_id DESC. "
    "Kept, not filtered: this is a per-key dedup, and dropping a "
    "user for having untimestamped events would lose the row "
    "entirely.",
    oracle="""
        SELECT user_id, event_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id
                ORDER BY epoch_us(CAST(ts AS TIMESTAMP)) DESC NULLS LAST, event_id DESC
            ) AS rn
            FROM events
        )
        WHERE rn = 1
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc_nulls_last("ts_us"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "ts_us")
    )


@register(
    "nation_revenue_rank",
    tags=("window", "join", "agg"),
    doc="Aggregate + rank window (Q7): customer revenue per nation, "
    "densely ranked. Rank cast to BIGINT both sides.",
    oracle="""
        SELECT n_name,
               round(sum(o_totalprice), 2) AS revenue,
               CAST(rank() OVER (ORDER BY round(sum(o_totalprice), 2) DESC, n_name) AS BIGINT) AS rev_rank
        FROM nation
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders   ON o_custkey = c_custkey
        GROUP BY n_name
    """,
)
def nation_revenue_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("n_name"))
    return rev.withColumn("rev_rank", F.rank().over(w).cast("bigint"))


@register(
    "top_parts_by_price",
    tags=("topk", "sort"),
    doc="Q8 sort/top-k with explicit total order.",
    oracle="""
        SELECT p_partkey, p_name, round(p_retailprice, 2) AS retail
        FROM part
        ORDER BY p_retailprice DESC, p_partkey
        LIMIT 10
    """,
)
def top_parts_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "part")
        .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
        .limit(10)
        .select("p_partkey", "p_name", F.round("p_retailprice", 2).alias("retail"))
    )


# ---------------------------------------------------------------------------
# Aggregate variants
# ---------------------------------------------------------------------------


@register(
    "distinct_parts_per_flag",
    tags=("agg", "distinct"),
    doc="COUNT(DISTINCT) per group (Q6).",
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@register(
    "big_spenders",
    tags=("agg", "having"),
    doc="GROUP BY + HAVING (Q6 surface).",
    oracle="""
        SELECT o_custkey,
               count(*)                     AS n_orders,
               round(sum(o_totalprice), 2)  AS spend
        FROM orders
        GROUP BY o_custkey
        HAVING sum(o_totalprice) > 1500000
    """,
)
def big_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
            F.sum("o_totalprice").alias("_raw_spend"),
        )
        .filter(F.col("_raw_spend") > 1500000)
        .drop("_raw_spend")
    )


# ---------------------------------------------------------------------------
# Events: incremental-extract semantics (P3) & time bucketing
# ---------------------------------------------------------------------------


@register(
    "order_priority_waiting",
    tags=("join", "semi", "agg"),
    doc="TPC-H Q4 shape: orders with at least one deep-discount "
    "lineitem (EXISTS -> left-semi join), counted per priority. The "
    "semi join probes lineitem once; no fanout from multiple matches.",
    oracle="""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_discount > 0.08
          )
        GROUP BY o_orderpriority
    """,
)
def order_priority_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    )
    late = table(spark, sf_dir, "lineitem").filter(
        F.col("l_discount") > 0.08
    ).select("l_orderkey")
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "revenue_rollup",
    tags=("agg", "rollup"),
    doc="GROUP BY ROLLUP (Q6 surface): revenue by (returnflag, "
    "linestatus) with subtotals and grand total. Runs as a "
    "re-aggregation cascade (operators/agg.py) instead of Spark's "
    "Expand: the base table is scanned and shuffled ONCE at the "
    "finest grain, coarser sets re-aggregate the tiny partials, and "
    "the grand-total set is a true global aggregate — which is what "
    "makes the ANSI empty-input contract hold (one grand-total row "
    "on zero input rows, exactly like the DuckDB oracle).",
    oracle="""
        SELECT coalesce(l_returnflag, 'ALL')  AS returnflag,
               coalesce(l_linestatus, 'ALL')  AS linestatus,
               round(sum(l_extendedprice), 2) AS revenue,
               count(*)                       AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    agg = cascade_grouping_sets(
        li,
        ["l_returnflag", "l_linestatus"],
        {"_revenue_raw": ("sum", "l_extendedprice"), "n": ("count",)},
        sets="rollup",
    )
    return agg.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        F.round("_revenue_raw", 2).alias("revenue"),
        "n",
    )


@register(
    "segment_year_pivot",
    tags=("agg", "pivot"),
    doc="Pivot (wide conditional aggregation): order counts per "
    "customer segment x order year, one row per segment. Spark's "
    "pivot() compiles to the same single-pass conditional aggregates "
    "as the SQL CASE form.",
    oracle="""
        SELECT c_mktsegment,
               count(*) FILTER (WHERE extract(year FROM o_orderdate) = 1995) AS y1995,
               count(*) FILTER (WHERE extract(year FROM o_orderdate) = 1996) AS y1996,
               count(*) FILTER (WHERE extract(year FROM o_orderdate) = 1997) AS y1997
        FROM customer JOIN orders ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
)
def segment_year_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    joined = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_mktsegment", F.year("o_orderdate").alias("yr")
    )
    return (
        joined.groupBy("c_mktsegment")
        .pivot("yr", [1995, 1996, 1997])
        .count()
        .select(
            "c_mktsegment",
            F.coalesce("1995", F.lit(0)).alias("y1995"),
            F.coalesce("1996", F.lit(0)).alias("y1996"),
            F.coalesce("1997", F.lit(0)).alias("y1997"),
        )
    )


@register(
    "distinct_parts_approx",
    tags=("agg", "approx"),
    doc="approx_count_distinct (HyperLogLog++): the constant-memory "
    "distinct-count for 100 TB cardinality work. SELF-CHECKING since "
    "r14 (the sketch estimate itself differs across engines by "
    "design, so it cannot be hash-compared): the query computes the "
    "sketch estimate AND the exact distinct count, and emits "
    "(exact, within_bound) where within_bound asserts the estimate "
    "sits within 5% of the exact (2.5x the rsd=0.02 std error — the "
    "same bound tests/test_streaming.py pins). DuckDB emits "
    "the same exact count and literal TRUE, so a degraded sketch "
    "flips within_bound and FAILS the driver hash — the estimate is "
    "value-gated, not just rows-counted. The HLL++ estimate is "
    "deterministic for a fixed input set (merge is a per-register "
    "max — order-free), so the boolean is stable run to run.",
    oracle="""
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts_exact,
               TRUE AS within_bound
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def distinct_parts_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_est"),
        F.count_distinct("l_partkey").cast("bigint").alias("n_parts_exact"),
    )
    return agg.select(
        "l_returnflag",
        "n_parts_exact",
        (
            F.abs(F.col("_est") - F.col("n_parts_exact"))
            <= F.col("n_parts_exact") * F.lit(0.05)
        ).alias("within_bound"),
    )


@register(
    "events_user_sketch_rollup",
    tags=("agg", "approx", "sketch", "events"),
    doc="Mergeable distinct-count sketches (Apache DataSketches HLL): "
    "build one user_id sketch per (event_type, day), then hll_union_agg "
    "the day sketches up to per-type totals. Re-aggregatability is the "
    "point — at 100 TB you materialize fine-grained sketches once and "
    "fold them into any coarser rollup (day→month→all) without "
    "re-scanning raw data, and partial aggregation merges sketches "
    "map-side. SELF-CHECKING since r14 (the sketch binary/estimate "
    "differs across engines by design): the query joins the rolled-up "
    "estimate against the exact per-type distinct count and emits "
    "(exact, within_bound) with the 5% bound the error test pins — "
    "DuckDB emits the exact count + literal TRUE, so a sketch that "
    "loses members through the day->type union flips the boolean and "
    "fails the driver hash. The exact twin is the certification "
    "price at sf0.01; the sketch path alone is what runs at 100 TB. "
    "Datasketches estimates are deterministic for a fixed input set "
    "(register maxima are order-free), so the boolean is stable.",
    oracle="""
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
               TRUE AS within_bound
        FROM events
        GROUP BY event_type
    """,
)
def events_user_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.timestamp_micros("ts_us")).alias("day")
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sketch"))
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("_est")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users_exact")
    )
    # tiny per-type frames: the join broadcasts (5 rows a side)
    return exact.join(rolled, "event_type").select(
        "event_type",
        "n_users_exact",
        (
            F.abs(F.col("_est") - F.col("n_users_exact"))
            <= F.col("n_users_exact") * F.lit(0.05)
        ).alias("within_bound"),
    )


@register(
    "incremental_range_scan",
    tags=("events", "filter", "incremental"),
    doc="P3 — the reference's (dead) incremental high-watermark "
    "predicate `incremental_column > :last_value` (base.py:70-73), "
    "implemented live: scan strictly after the cursor. Epoch-us "
    "comparison is timezone-proof.",
    oracle="""
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               value
        FROM events
        WHERE epoch_us(CAST(ts AS TIMESTAMP)) > epoch_us(TIMESTAMP '2024-01-25 00:00:00')
    """,
)
def incremental_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    cutoff_us = 1706140800000000  # 2024-01-25T00:00:00Z in epoch microseconds
    return ev.filter(F.col("ts_us") > F.lit(cutoff_us)).select(
        "event_id", "user_id", "event_type", "ts_us", "value"
    )


@register(
    "events_by_type",
    tags=("events", "agg"),
    doc="Aggregate over the event stream table (Q5/Q6).",
    oracle="""
        SELECT event_type,
               count(*)              AS n,
               round(sum(value), 2)  AS total_value,
               round(avg(value), 4)  AS avg_value
        FROM events
        GROUP BY event_type
    """,
)
def events_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
    )


@register(
    "events_hourly_histogram",
    tags=("events", "agg", "date"),
    doc="Time bucketing done in integer epoch space (timezone-proof): "
    "hour-of-day histogram per event type. NULL-ts decision (r9 "
    "NULL-ts edge axis): this is a plain GROUP BY on a derived key, "
    "not a time-ordering operation, so NULL-ts events keep SQL's "
    "faithful NULL-group semantics — div/% of NULL is NULL in both "
    "engines and both group it as one NULL bucket; no filter.",
    oracle="""
        SELECT CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS BIGINT) AS hour_of_day,
               event_type,
               count(*) AS n
        FROM events
        GROUP BY 1, 2
    """,
)
def events_hourly_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # Spark `div`/`%` and DuckDB `//`/`%` both truncate toward zero,
    # so the two sides agree for any sign (verified: -7//2 = -3 in
    # both engines); pre-1970 epochs land in a negative pseudo-hour on
    # BOTH sides — consistent, and absent from real event data
    hour = (F.expr("ts_us div 3600000000") % 24).cast("bigint")
    return (
        ev.groupBy(hour.alias("hour_of_day"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
