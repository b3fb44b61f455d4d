"""Advanced relational coverage: the TPC-H query shapes the reference's
SQL surface (`_tenant_factory.py:368-371` ships arbitrary model SQL to a
full SQL engine) implies but its checked-in models don't exercise —
outer joins, correlated/scalar subqueries, disjunctive predicates,
statistical aggregates, exact percentiles, explode/unnest, CUBE,
JSON extraction, and an as-of join.

Scale notes per query; the common rules:

- NO table that scales with the data (`lineitem`, `orders`,
  `customer`, `part`, `events`, …) ever carries a broadcast hint or is
  collected — AQE converts their joins to broadcast at runtime when
  the filtered side qualifies, and degrades to a shuffle join instead
  of OOMing at 100x;
- only fixed-cardinality dimensions (`region` = 5 rows, `nation` = 25
  rows, and supplier-scale lookups) broadcast explicitly;
- correlated subqueries become windows (one shuffle on the
  correlation key) instead of self-joins (two);
- the as-of join is the union+running-max form — a single shuffle by
  key, no range-join explosion, works unchanged at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io import table
from ..operators.agg import cascade_grouping_sets
from . import register

# ---------------------------------------------------------------------------
# Join-heavy TPC-H shapes
# ---------------------------------------------------------------------------


@register(
    "cross_nation_trade",
    tags=("join", "agg"),
    doc="TPC-H Q7 shape: revenue shipped between two specific "
    "(supplier-nation, customer-nation) pairs, per year. The two "
    "nation filters reach the dimension scans; lineitem shuffles only "
    "for the orders join (supplier/nation broadcast; customer scales "
    "with SF so AQE decides its join strategy).",
    oracle="""
        SELECT supp_nation, cust_nation, l_year,
               round(sum(volume), 2) AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation,
                   n2.n_name AS cust_nation,
                   CAST(extract(year FROM l_shipdate) AS BIGINT) AS l_year,
                   l_extendedprice * (1 - l_discount) AS volume
            FROM lineitem
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON n1.n_nationkey = s_nationkey
            JOIN nation n2 ON n2.n_nationkey = c_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        )
        GROUP BY supp_nation, cust_nation, l_year
    """,
)
def cross_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    # r14 (guide §2.3, shuffle fewer bytes): the disjunctive pair
    # predicate implies the per-side filter nation IN (N1, N2), which
    # Catalyst does not derive across the join. Joining the
    # nation-filtered dimensions FIRST prunes lineitem to the two
    # nations' suppliers BEFORE the l_orderkey shuffle and prunes the
    # customer side before the o_custkey shuffle — at scale both big
    # exchanges carry ~2/|nation| of their rows instead of all of
    # them. The final pair filter is unchanged (exactness lives
    # there); broadcast posture is unchanged too (supplier broadcast,
    # customer shuffled). Rows verified identical at sf0.1.
    n1 = n1.filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = n2.filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    s2 = s.join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
    c2 = c.join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
    return (
        li.join(F.broadcast(s2), li.l_suppkey == s2.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c2, o.o_custkey == c2.c_custkey)
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "customer_order_distribution",
    tags=("join", "outer", "agg"),
    doc="TPC-H Q13 shape: LEFT OUTER join preserving order-less "
    "customers, then a distribution over per-customer order counts "
    "(double aggregation). The outer join shuffles both sides once; "
    "the second aggregate runs on the tiny distinct-count domain.",
    oracle="""
        SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
        FROM (
            SELECT c_custkey, count(o_orderkey) AS n_orders
            FROM customer
            LEFT JOIN orders ON o_custkey = c_custkey
            GROUP BY c_custkey
        )
        GROUP BY n_orders
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@register(
    "promo_revenue_ratio",
    tags=("join", "agg", "scalar"),
    doc="TPC-H Q14 shape: conditional-aggregate ratio — share of "
    "revenue from PROMO parts in 1996. One pass over the filtered "
    "join; part scales with SF, so its join strategy is AQE's call.",
    oracle="""
        SELECT round(
                 100.0 * sum(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    """,
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo_vol = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo_vol) / F.sum(vol), 4).alias("promo_pct")
        )
    )


@register(
    "small_quantity_revenue",
    tags=("window", "agg", "subquery"),
    doc="TPC-H Q17 shape: lineitems below half their part's average "
    "quantity. The correlated subquery is a window over l_partkey — "
    "ONE shuffle, versus two for the aggregate-then-self-join form.",
    oracle="""
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM (
            SELECT l_extendedprice, l_quantity,
                   avg(l_quantity) OVER (PARTITION BY l_partkey) AS part_avg_qty
            FROM lineitem
        )
        WHERE l_quantity < 0.5 * part_avg_qty
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    return (
        li.withColumn("part_avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < 0.5 * F.col("part_avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@register(
    "large_order_customers",
    tags=("join", "agg", "having", "topk"),
    doc="TPC-H Q18 shape: orders whose total quantity exceeds 250 "
    "(HAVING over the fact aggregate), joined back to orders and "
    "customer for the top 20 by price. The heavy aggregate runs "
    "before the joins, so only qualifying orderkeys shuffle onward. "
    "The aggregate placement is SEMANTICS, not just the plan (r11 "
    "duplicate-dim-key axis): sum_qty is the order's quantity, "
    "computed once per orderkey on the fact side — a duplicated "
    "(replayed-CDC) customer row fans out the enriched output rows, "
    "as any dimension join does, but must never double the order's "
    "quantity the way a GROUP-BY-after-join would. The oracle states "
    "the same fact-keyed aggregate explicitly.",
    oracle="""
        WITH big AS (
            SELECT l_orderkey, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(l_quantity) > 250
        )
        SELECT c_name, o_orderkey,
               CAST(o_orderdate AS DATE)   AS orderdate,
               round(o_totalprice, 2)      AS totalprice,
               round(sum_qty, 2)           AS sum_qty
        FROM big
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_sum_qty"))
        .filter(F.col("_sum_qty") > 250)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        # order by the RAW price like the oracle — sorting the rounded
        # value lets a tie at the rank-20 boundary pick different rows
        # on each side (the bank's LIMIT-needs-identical-total-order
        # rule)
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("_sum_qty", 2).alias("sum_qty"),
        )
    )


@register(
    "disjunctive_filter_revenue",
    tags=("join", "filter"),
    doc="TPC-H Q19 shape: OR of conjunctive predicate groups spanning "
    "both join sides. Catalyst extracts the common join key and pushes "
    "the single-side conjuncts (p_size, l_quantity bounds) below the "
    "join; the cross-side OR evaluates post-join.",
    oracle="""
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE (p_type = 'SMALL'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
           OR (p_type = 'MEDIUM' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
           OR (p_type = 'LARGE'  AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
    """,
)
def disjunctive_filter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_type") == "SMALL")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_type") == "MEDIUM")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_type") == "LARGE")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "idle_rich_customers",
    tags=("subquery", "anti", "agg"),
    doc="TPC-H Q22 shape: customers above the global positive-balance "
    "average (scalar subquery -> broadcast cross join of a 1-row "
    "aggregate) who never ordered (anti join), grouped by the 2-digit "
    "name prefix.",
    oracle="""
        SELECT substr(c_name, 10, 2)       AS cust_grp,
               CAST(count(*) AS BIGINT)    AS n_custs,
               round(sum(c_acctbal), 2)    AS total_bal
        FROM customer
        WHERE c_acctbal > (
            SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders WHERE o_custkey = c_custkey
        )
        GROUP BY 1
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").select("o_custkey")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.substring("c_name", 10, 2).alias("cust_grp"))
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "nation_market_share",
    tags=("subquery", "agg", "join"),
    doc="TPC-H Q11 shape: nations holding > 2% of global order "
    "revenue. The global total is a 1-row aggregate broadcast back "
    "over the per-nation aggregate (scalar subquery), so the fact "
    "table is scanned once.",
    oracle="""
        WITH nation_rev AS (
            SELECT n_name, sum(o_totalprice) AS rev
            FROM nation
            JOIN customer ON c_nationkey = n_nationkey
            JOIN orders   ON o_custkey = c_custkey
            GROUP BY n_name
        )
        SELECT n_name,
               round(rev, 2) AS revenue,
               round(100.0 * rev / (SELECT sum(rev) FROM nation_rev), 4) AS share_pct
        FROM nation_rev
        WHERE rev > 0.02 * (SELECT sum(rev) FROM nation_rev)
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    nation_rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    total = nation_rev.agg(F.sum("rev").alias("_total"))
    return (
        nation_rev.crossJoin(F.broadcast(total))
        .filter(F.col("rev") > 0.02 * F.col("_total"))
        .select(
            "n_name",
            F.round("rev", 2).alias("revenue"),
            F.round(100.0 * F.col("rev") / F.col("_total"), 4).alias("share_pct"),
        )
    )


@register(
    "top_supplier_revenue",
    tags=("window", "agg", "subquery"),
    doc="TPC-H Q15 shape: supplier(s) with the maximum 1996 revenue. "
    "The max-selection is a rank() window over the per-supplier "
    "aggregate (25 rows by then) instead of a second scan; revenue "
    "is rounded before ranking on both sides so float argmax agrees "
    "across engines.",
    oracle="""
        WITH supplier_rev AS (
            SELECT l_suppkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_rev
        FROM supplier JOIN supplier_rev ON s_suppkey = l_suppkey
        WHERE total_rev = (SELECT max(total_rev) FROM supplier_rev)
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    s = table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_rev"
        )
    )
    w = Window.orderBy(F.desc("total_rev"))
    top = rev.withColumn("_rk", F.rank().over(w)).filter(F.col("_rk") == 1)
    return (
        top.join(F.broadcast(s), top.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


# ---------------------------------------------------------------------------
# Statistical aggregates / percentiles
# ---------------------------------------------------------------------------


@register(
    "lineitem_stats",
    tags=("agg", "stats"),
    doc="Statistical aggregate library (SURFACE Q6): sample "
    "stddev/variance, Pearson correlation, sample covariance — all "
    "single-pass partial-aggregable, constant memory at any scale. "
    "NaN measures are EXCLUDED from every second-moment input (r13 "
    "float-key axis): like interpolated percentiles, this is a "
    "surface where the engines cannot even agree on RETURNING — "
    "Spark's stddev/corr yield NaN while DuckDB RAISES ('STDDEV_POP "
    "is out of range', found live by the NaN-extendedprice edge "
    "injection through corr's internal stddev) — so exclusion is the "
    "contract on both sides; corr/covar skip a row when EITHER "
    "guarded input nulls out, identically in both engines. "
    "First-moment aggregates (sum/avg/min/max) stay NaN-faithful "
    "engine-wide — there the engines agree "
    "(tests/test_float_key_parity.py).",
    oracle="""
        SELECT l_returnflag,
               round(stddev_samp(CASE WHEN isnan(l_quantity) THEN NULL
                                      ELSE l_quantity END), 4)   AS sd_qty,
               round(var_samp(CASE WHEN isnan(l_quantity) THEN NULL
                                   ELSE l_quantity END), 4)      AS var_qty,
               round(corr(CASE WHEN isnan(l_quantity) THEN NULL
                               ELSE l_quantity END,
                          CASE WHEN isnan(l_extendedprice) THEN NULL
                               ELSE l_extendedprice END), 6)     AS corr_qty_price,
               round(covar_samp(CASE WHEN isnan(l_quantity) THEN NULL
                                     ELSE l_quantity END,
                                CASE WHEN isnan(l_extendedprice) THEN NULL
                                     ELSE l_extendedprice END), 2) AS covar_qty_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    qty = "IF(isnan(l_quantity), NULL, l_quantity)"
    price = "IF(isnan(l_extendedprice), NULL, l_extendedprice)"
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr(f"stddev_samp({qty})"), 4).alias("sd_qty"),
        F.round(F.expr(f"var_samp({qty})"), 4).alias("var_qty"),
        F.round(F.expr(f"corr({qty}, {price})"), 6).alias("corr_qty_price"),
        F.round(F.expr(f"covar_samp({qty}, {price})"), 2).alias("covar_qty_price"),
    )


@register(
    "order_price_quantiles",
    tags=("agg", "percentile"),
    doc="Exact interpolated percentiles per group (SURFACE Q6): "
    "Spark `percentile` and DuckDB `quantile_cont` both do linear "
    "interpolation. Exact percentile sorts within each group — at "
    "100 TB swap to approx_percentile and widen the round(). "
    "round(., 4), NOT 2 (r11): a quartile/decile interpolation of "
    "2-decimal prices can land EXACTLY on a half-cent (e.g. "
    "121630.94 + 0.75 x 145.34 = 121739.945, stored as "
    "...94499999999) — both engines produce the bit-identical "
    "double, but Spark's BigDecimal round() sees < .945 and rounds "
    "down while DuckDB's multiply-then-round rounds up, a genuine "
    "round-half ambiguity at ANY magnitude (found live by the "
    "duplicate-key edges sweep at sf0.01). The interpolated value "
    "itself has at most 4 exact decimals (cents x quarter/tenth "
    "fractions), so round(., 4) is boundary-free and certifies the "
    "exact value in both engines. NaN measures are EXCLUDED as "
    "corrupt data (r13 float-key axis): interpolated percentiles are "
    "the one NaN consumer where the engines genuinely diverge — "
    "Spark's percentile interpolates over an NaN-greatest sort (a "
    "group's p25 stays finite), DuckDB's quantile_cont returns NaN "
    "for the whole group — so the exclusion is the contract on both "
    "sides, same posture as the similarity module's corrupt-vector "
    "policy (pinned in tests/test_float_key_parity.py). Every OTHER "
    "NaN consumer in the bank (sum/avg/min/max, CASE ranges, ORDER "
    "BY, rank ties) agrees across engines and propagates faithfully.",
    oracle="""
        SELECT o_orderpriority,
               round(quantile_cont(CASE WHEN isnan(o_totalprice) THEN NULL
                                        ELSE o_totalprice END, 0.25), 4) AS p25,
               round(quantile_cont(CASE WHEN isnan(o_totalprice) THEN NULL
                                        ELSE o_totalprice END, 0.50), 4) AS p50,
               round(quantile_cont(CASE WHEN isnan(o_totalprice) THEN NULL
                                        ELSE o_totalprice END, 0.75), 4) AS p75,
               round(quantile_cont(CASE WHEN isnan(o_totalprice) THEN NULL
                                        ELSE o_totalprice END, 0.90), 4) AS p90
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def order_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # NaN -> NULL before the percentile: aggregate functions skip
    # NULLs identically in both engines (the NaN-exclusion contract,
    # see doc); a NULL price stays NULL either way
    price = "IF(isnan(o_totalprice), NULL, o_totalprice)"
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr(f"percentile({price}, 0.25)"), 4).alias("p25"),
        F.round(F.expr(f"percentile({price}, 0.50)"), 4).alias("p50"),
        F.round(F.expr(f"percentile({price}, 0.75)"), 4).alias("p75"),
        F.round(F.expr(f"percentile({price}, 0.90)"), 4).alias("p90"),
    )


@register(
    "order_price_quantiles_approx",
    tags=("agg", "percentile", "approx"),
    doc="The documented 100 TB switch for order_price_quantiles: "
    "approx_percentile (Greenwald-Khanna sketch, accuracy 10000 — "
    "bounded rank error 1/accuracy) per group. Partial-aggregable "
    "constant-memory sketches merge map-side, so no per-group sort "
    "materializes at any scale. Carries the same NaN-exclusion "
    "contract as its exact twin (r13 float-key axis). SELF-CHECKING "
    "since r14 (the GK sketch returns an actual element at a rank "
    "within ±n/accuracy — engine-specific, so the estimate itself "
    "cannot be hash-compared): the query emits the exact twin's "
    "rounded percentiles PLUS within_bound = every sketch estimate "
    "lies inside the exact percentile bracket at q±0.01 — 100x the "
    "guaranteed 1e-4 rank error, so the boolean is deterministically "
    "TRUE for a working sketch at any input size while a broken "
    "sketch (rank drift, merge loss) flips it and fails the driver "
    "hash. DuckDB emits the same exact percentiles + literal TRUE.",
    oracle="""
        SELECT o_orderpriority,
               round(quantile_cont(CASE WHEN isnan(o_totalprice) THEN NULL
                                        ELSE o_totalprice END, 0.25), 4) AS p25_exact,
               round(quantile_cont(CASE WHEN isnan(o_totalprice) THEN NULL
                                        ELSE o_totalprice END, 0.50), 4) AS p50_exact,
               round(quantile_cont(CASE WHEN isnan(o_totalprice) THEN NULL
                                        ELSE o_totalprice END, 0.75), 4) AS p75_exact,
               round(quantile_cont(CASE WHEN isnan(o_totalprice) THEN NULL
                                        ELSE o_totalprice END, 0.90), 4) AS p90_exact,
               TRUE AS within_bound
        FROM orders
        GROUP BY o_orderpriority
    """,
)
def order_price_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out (r14): this query folds every row through a GK sketch
    # AND five exact percentile sorts — heavy per-row/per-group CPU
    # that a single-row-group local scan serializes onto one core
    # (measured 0.67x with the fan-out at sf0.1; the relational
    # aggregation queries around it measured as losers and stay on
    # plain scans)
    o = table(spark, sf_dir, "orders", fan_out=True)
    price = "IF(isnan(o_totalprice), NULL, o_totalprice)"
    agg = o.groupBy("o_orderpriority").agg(
        F.expr(
            f"approx_percentile({price}, array(0.25, 0.50, 0.75, 0.90), 10000)"
        ).alias("_ap"),
        # bracket percentiles at q±0.01: the loose (100x) envelope the
        # sketch estimates must land in — one sort per group serves
        # the brackets AND the exact columns
        F.expr(
            f"percentile({price}, array(0.24, 0.26, 0.49, 0.51, 0.74, 0.76, 0.89, 0.91))"
        ).alias("_br"),
        F.round(F.expr(f"percentile({price}, 0.25)"), 4).alias("p25_exact"),
        F.round(F.expr(f"percentile({price}, 0.50)"), 4).alias("p50_exact"),
        F.round(F.expr(f"percentile({price}, 0.75)"), 4).alias("p75_exact"),
        F.round(F.expr(f"percentile({price}, 0.90)"), 4).alias("p90_exact"),
    )
    ok = None
    for i in range(4):
        leg = F.col("_ap")[i].between(F.col("_br")[2 * i], F.col("_br")[2 * i + 1])
        ok = leg if ok is None else (ok & leg)
    return agg.select(
        "o_orderpriority",
        "p25_exact",
        "p50_exact",
        "p75_exact",
        "p90_exact",
        ok.alias("within_bound"),
    )


# ---------------------------------------------------------------------------
# Arrays / explode / nested / JSON
# ---------------------------------------------------------------------------


@register(
    "part_name_word_counts",
    tags=("array", "explode", "agg"),
    doc="Array explode (SURFACE E10 / Spark-native extension): "
    "split part names into words, count occurrences. "
    "explode() is generator-style — no driver materialization.",
    oracle="""
        SELECT word, CAST(count(*) AS BIGINT) AS n
        FROM (
            SELECT unnest(list_filter(regexp_split_to_array(p_name, '\\s+'),
                                      t -> t <> '')) AS word
            FROM part
        )
        GROUP BY word
    """,
)
def part_name_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    # whitespace-class split + empty filter (not a literal-space
    # split): tabs and doubled spaces must not fabricate '' words
    words = F.filter(F.split("p_name", r"\s+"), lambda t: t != "")
    return (
        p.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "segment_nation_list",
    tags=("array", "agg", "string"),
    doc="Ordered set aggregation (SURFACE Q6): distinct market "
    "segments per nation as a sorted CSV string — "
    "collect_set -> array_sort -> concat_ws, all JVM-side.",
    oracle="""
        SELECT nationkey, string_agg(seg, ',' ORDER BY seg) AS segments
        FROM (
            SELECT DISTINCT CAST(c_nationkey AS INTEGER) AS nationkey,
                            c_mktsegment AS seg
            FROM customer
        )
        GROUP BY nationkey
    """,
)
def segment_nation_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return (
        c.groupBy(F.col("c_nationkey").cast("int").alias("nationkey"))
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("c_mktsegment"))).alias(
                "segments"
            )
        )
    )


@register(
    "revenue_cube",
    tags=("agg", "cube"),
    doc="GROUP BY CUBE with grouping-flag disambiguation (SURFACE "
    "Q6): all four grouping combinations; gid distinguishes real "
    "NULL groups from subtotal rows. Runs as a re-aggregation "
    "cascade (operators/agg.py) instead of Spark's 4x-Expand: base "
    "scanned/shuffled once at the finest grain, the three coarser "
    "sets re-aggregate partials, and the () set is a true global "
    "aggregate so the ANSI empty-input grand-total row survives.",
    oracle="""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
               CAST(count(*) AS BIGINT)      AS n,
               round(sum(l_quantity), 2)     AS qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    agg = cascade_grouping_sets(
        li,
        ["l_returnflag", "l_linestatus"],
        {"n": ("count",), "_qty_raw": ("sum", "l_quantity")},
        sets="cube",
        grouping_id="gid",
    )
    return agg.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
        "gid",
        "n",
        F.round("_qty_raw", 2).alias("qty"),
    )


@register(
    "event_props_json",
    tags=("json", "scalar", "agg"),
    doc="JSON extraction (SURFACE E10): pull a numeric field out of "
    "the events props JSON blob and histogram it. get_json_object "
    "is JVM-side (Jackson), no Python in the loop.",
    oracle="""
        SELECT CAST(props->>'$.k' AS BIGINT) // 10 AS k_bucket,
               CAST(count(*) AS BIGINT)           AS n,
               round(sum(value), 2)               AS total_value
        FROM events
        GROUP BY 1
    """,
)
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.expr("CAST(get_json_object(props, '$.k') AS BIGINT) div 10").alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Range / interval join
# ---------------------------------------------------------------------------


@register(
    "range_join_click_views",
    tags=("range-join", "events", "agg"),
    doc="Time-range join (custom operator): for each click, the number "
    "of views by the same user in the preceding hour, as a "
    "histogram. A raw range predicate forces a per-user cross product; "
    "instead timestamps are bucketed at the range width so each click "
    "probes exactly 2 buckets — an equi-join on (user_id, bucket) that "
    "shuffles once and scales linearly. Oracle is the naive range join. "
    "NULL-ts policy (engine-wide, streaming/events.py): time-ordered, "
    "so NULL-ts events are excluded explicitly on both sides — the "
    "range predicate could never match them, but implicit exclusion "
    "is exactly the coincidence the NULL-ts edge sweep exists to "
    "remove.",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
            FROM events
            WHERE event_type IN ('view', 'click') AND ts IS NOT NULL
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
def range_join_click_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    width_us = 3_600_000_000  # 1 hour; bucket width == range width
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter((F.col("event_type") == "click") & F.col("ts_us").isNotNull()).select(
        "event_id", "user_id", "ts_us"
    )
    views = ev.filter((F.col("event_type") == "view") & F.col("ts_us").isNotNull()).select(
        "user_id",
        F.col("ts_us").alias("view_ts"),
        (F.col("ts_us") - (F.col("ts_us") % width_us)).alias("bucket"),
    )
    # each click's 1-hour lookback spans at most its own and the prior bucket
    probe = clicks.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.col("ts_us") - (F.col("ts_us") % width_us),
                F.col("ts_us") - (F.col("ts_us") % width_us) - width_us,
            )
        ),
    )
    per_click = (
        probe.join(views, ["user_id", "bucket"])
        .filter(
            (F.col("view_ts") > F.col("ts_us") - width_us)
            & (F.col("view_ts") <= F.col("ts_us"))
        )
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_views"))
    )
    return per_click.groupBy("n_views").agg(F.count(F.lit(1)).alias("n_clicks"))


# ---------------------------------------------------------------------------
# As-of join
# ---------------------------------------------------------------------------


@register(
    "asof_click_view",
    tags=("asof", "window", "events"),
    doc="As-of join (custom operator the reference's SQL surface "
    "can't express natively): for every click, the most recent view "
    "by the same user at or before it. Implemented as union + "
    "running-max window — ONE shuffle on user_id, no range-join "
    "explosion; identical cost profile at 100 TB. Oracle is the "
    "equivalent ANSI window form. NULL-ts policy (engine-wide, "
    "streaming/events.py): 'most recent at or before' is undefined "
    "for an event with no timestamp, so NULL-ts events are excluded "
    "explicitly on both sides — without the filter Spark (NULLS FIRST "
    "asc) gives a NULL-ts click no preceding views while DuckDB "
    "(NULLS LAST) gives it ALL views, the exact divergence the r9 "
    "NULL-ts edge injection caught. NULL-identity policy (r9 "
    "orphan-FK axis): 'by the same user' is an equi-key match, and "
    "SQL equality never pairs NULL keys — but the window formulation "
    "POOLS NULL user_ids, silently matching anonymous clicks to "
    "other people's anonymous views; NULL-user events are excluded "
    "explicitly on both sides (sequence operators require identity; "
    "group aggregates keep the NULL group — engine-wide policy, "
    "operators/events.py).",
    oracle="""
        WITH tagged AS (
            SELECT user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                   event_id,
                   CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view
            FROM events
            WHERE event_type IN ('view', 'click') AND ts IS NOT NULL
              AND user_id IS NOT NULL
        ), enriched AS (
            SELECT *,
                   max(CASE WHEN is_view = 1 THEN ts_us END) OVER (
                       PARTITION BY user_id
                       ORDER BY ts_us, is_view DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS last_view_ts
            FROM tagged
        )
        SELECT event_id, user_id, ts_us, last_view_ts
        FROM enriched
        WHERE is_view = 0
    """,
)
def asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
        & F.col("ts_us").isNotNull()
        & F.col("user_id").isNotNull()
    )
    tagged = ev.select(
        "user_id",
        "ts_us",
        "event_id",
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_view"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts_us"), F.desc("is_view"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn(
            "last_view_ts",
            F.max(F.when(F.col("is_view") == 1, F.col("ts_us"))).over(w),
        )
        .filter(F.col("is_view") == 0)
        .select("event_id", "user_id", "ts_us", "last_view_ts")
    )


# ---------------------------------------------------------------------------
# Sequential-pattern funnel
# ---------------------------------------------------------------------------


@register(
    "events_funnel",
    tags=("events", "funnel", "sequence"),
    doc="Strict-sequence funnel (view -> click -> purchase): a user "
    "reaches a stage only via events strictly after their previous "
    "stage (earliest-qualifying greedily, which equals the nested "
    "min-after-min definition the oracle uses). Computed in ONE "
    "shuffle: per-user sorted event array folded through a 3-field "
    "state struct, JVM-side. Per-user array size is bounded by "
    "events-per-user; corpora with pathological hot users would use "
    "the equivalent 3-join formulation instead. NULL-ts policy "
    "(engine-wide, streaming/events.py): a sequence position is "
    "undefined for an event with no timestamp, so NULL-ts events are "
    "excluded explicitly on both sides (the operator filters them; "
    "the oracle's min/strict-> comparisons would skip them anyway — "
    "explicit beats coincidental). NULL-identity policy (r9 "
    "orphan-FK axis): a funnel participant requires an identity, so "
    "NULL-user events are excluded explicitly on both sides — a bare "
    "groupBy would pool all orphan events into one phantom journey "
    "(the hottest key in the corpus at scale), while SQL's equi-join "
    "funnel counts the NULL group at stage 1 but drops it afterward "
    "(NULL never equals NULL) — an inconsistent hybrid; the explicit "
    "filter states one decision in both engines.",
    oracle="""
        WITH e AS (
            SELECT user_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ), v AS (
            SELECT user_id, min(ts_us) AS v_ts
            FROM e WHERE event_type = 'view' GROUP BY user_id
        ), c AS (
            SELECT e.user_id, min(ts_us) AS c_ts
            FROM e JOIN v USING (user_id)
            WHERE event_type = 'click' AND ts_us > v_ts
            GROUP BY e.user_id
        ), p AS (
            SELECT e.user_id, min(ts_us) AS p_ts
            FROM e JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND ts_us > c_ts
            GROUP BY e.user_id
        )
        SELECT 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
        UNION ALL
        SELECT 'click', CAST(count(*) AS BIGINT) FROM c
        UNION ALL
        SELECT 'purchase', CAST(count(*) AS BIGINT) FROM p
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # greedy earliest-qualifying fold over the time-ordered events;
    # strict > between stages matches the oracle's nested min-after-min
    # (operator semantics property-tested vs an independent Python
    # model in test_corpus_properties)
    from ..operators.events import funnel_stage_times

    times = funnel_stage_times(
        table(spark, sf_dir, "events"), stages=("view", "click", "purchase")
    )
    stages = times.agg(
        F.count("view").cast("bigint").alias("n_v"),
        F.count("click").cast("bigint").alias("n_c"),
        F.count("purchase").cast("bigint").alias("n_p"),
    )
    return stages.select(
        F.expr("stack(3, 'view', n_v, 'click', n_c, 'purchase', n_p) AS (stage, n_users)")
    )


# ---------------------------------------------------------------------------
# Blocked fuzzy join + further window analytics
# ---------------------------------------------------------------------------


@register(
    "part_name_typo_pairs",
    tags=("join", "fuzzy", "blocking", "part"),
    doc="Blocked fuzzy self-join: part-name pairs within edit distance "
    "2, candidates generated ONLY inside a blocking key (first word + "
    "name-length band) so the quadratic levenshtein comparison runs "
    "per small block, never all-pairs — the standard entity-"
    "resolution shape at scale. The comparison runs over DISTINCT "
    "names (compare-once, expand-after): duplicated values pay one "
    "levenshtein instead of |dup|², which is the difference between "
    "40M and 4K comparisons on this catalog and exactly the dedup-"
    "before-compare pattern entity resolution uses on real data. "
    "Deterministic top-50 by (distance, ids).",
    oracle="""
        WITH p AS (
            SELECT p_partkey, p_name,
                   split_part(p_name, ' ', 1) AS blk,
                   CAST(floor(length(p_name) / 4) AS BIGINT) AS lb
            FROM part
        )
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
        FROM p a JOIN p b
          ON a.blk = b.blk AND a.lb = b.lb AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 2
        ORDER BY edit_dist, key_a, key_b
        LIMIT 50
    """,
)
def part_name_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = table(spark, sf_dir, "part").select("p_partkey", "p_name")
    names = parts.select("p_name").distinct().select(
        "p_name",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("blk"),
        F.floor(F.length("p_name") / 4).cast("bigint").alias("lb"),
    )
    na = names.select(F.col("p_name").alias("name_a"), "blk", "lb")
    nb = names.select(F.col("p_name").alias("name_b"), "blk", "lb")
    # unordered distinct-name pairs (incl. the name with itself, which
    # carries the distance-0 duplicate-key pairs) — levenshtein runs
    # once per value pair, not once per row pair
    name_pairs = (
        na.join(nb, ["blk", "lb"])
        .filter(F.col("name_a") <= F.col("name_b"))
        # bounded levenshtein (threshold arg): O(k*n) band instead of
        # the full O(n*m) matrix, -1 when the distance exceeds 2
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b", 2).cast("bigint"))
        .filter(F.col("edit_dist") >= 0)
        .select("name_a", "name_b", "edit_dist")
        # each name pair expands to |dup_a| x |dup_b| key pairs below;
        # the surviving pairs are few enough to land on ONE partition,
        # which made the whole |dup|^2 expansion single-threaded
        # (measured 3.4s -> 0.5s at sf0.1). Hash the pairs across the
        # cluster so every expansion unit runs in parallel.
        .repartition(F.col("name_a"), F.col("name_b"))
    )
    ka = parts.select(F.col("p_name").alias("name_a"), F.col("p_partkey").alias("key_l"))
    kb = parts.select(F.col("p_name").alias("name_b"), F.col("p_partkey").alias("key_r"))
    expanded = (
        name_pairs.join(ka, "name_a")
        .join(kb, "name_b")
        # same-name pairs appear in both orders — keep one; cross-name
        # pairs appear once and just need the smaller key first
        .filter((F.col("name_a") != F.col("name_b")) | (F.col("key_l") < F.col("key_r")))
        .select(
            F.least("key_l", "key_r").alias("key_a"),
            F.greatest("key_l", "key_r").alias("key_b"),
            "edit_dist",
        )
    )
    return expanded.orderBy("edit_dist", "key_a", "key_b").limit(50)


@register(
    "customer_balance_deciles",
    tags=("window", "ntile", "customer"),
    doc="ntile(10) deciles over account balance: per-decile customer "
    "count and average balance — the distribution-profiling query "
    "every mart ships. ntile is computed from a SCALABLE global rank "
    "(range-partitioned sort + per-partition offsets, "
    "operators/corpus.py:global_row_number) rather than a "
    "partitionless window, which would pull the whole table into one "
    "task; buckets follow SQL ntile's remainder-first rule — when 10 "
    "does not divide n the first (n mod 10) buckets get q+1 rows and "
    "the rest get q=n div 10, so rank <= (n mod 10)*(q+1) maps to "
    "bucket (rank-1) div (q+1) + 1 and later ranks fill q-sized "
    "buckets — the oracle's real ntile() hash-matches even for "
    "awkward n (pinned in test_ntile_formula_matches_sql_ntile).",
    oracle="""
        WITH d AS (
            SELECT c_acctbal, ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
            FROM customer
        )
        SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
               round(avg(c_acctbal), 2) AS avg_balance
        FROM d GROUP BY decile
    """,
)
def customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corpus import global_row_number

    c = table(spark, sf_dir, "customer").select("c_acctbal", "c_custkey")
    # n comes from the per-partition counts the ranker already
    # collected (r15, guide §1.2): a ranked.count() would schedule a
    # whole extra pass over the ranked table for it
    ranked, total = global_row_number(c, ["c_acctbal", "c_custkey"], out_col="rank")
    # EXACT SQL ntile(k): with n = qk + r, the FIRST r buckets get q+1
    # rows and the rest get q — ((rank-1)*k) div n spreads the
    # remainder evenly instead, which diverges whenever k does not
    # divide n (all-integral `div`: float rounding misplaces bucket
    # boundaries once counts pass 2^53 / n_buckets)
    q, r = total // 10, total % 10
    big = r * (q + 1)  # rows covered by the q+1-sized buckets
    decile = (
        F.when(F.col("rank") <= F.lit(big), F.expr(f"(rank - 1) div {max(q + 1, 1)}"))
        .otherwise(F.lit(r) + F.expr(f"(rank - 1 - {big}) div {max(q, 1)}"))
        + F.lit(1)
    )
    return (
        ranked.select("c_acctbal", decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 2).alias("avg_balance"),
        )
    )


@register(
    "nation_revenue_running_share",
    tags=("window", "running-sum", "orders"),
    doc="Cumulative revenue share per nation across order years: "
    "running sum over an ordered window divided by the nation total "
    "(both computed in the same two-shuffle plan). The classic "
    "market-penetration trend query.",
    oracle="""
        WITH r AS (
            SELECT n_name, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
                   sum(o_totalprice) AS rev
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY 1, 2
        )
        SELECT n_name, yr,
               round(sum(rev) OVER (PARTITION BY n_name ORDER BY yr
                                    ROWS UNBOUNDED PRECEDING)
                     / sum(rev) OVER (PARTITION BY n_name), 4) AS cum_share
        FROM r
    """,
)
def nation_revenue_running_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w_run = (
        Window.partitionBy("n_name").orderBy("yr").rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("n_name")
    return rev.select(
        "n_name",
        "yr",
        F.round(F.sum("rev").over(w_run) / F.sum("rev").over(w_all), 4).alias("cum_share"),
    )


@register(
    "events_intervisit_gaps",
    tags=("window", "lag", "events"),
    doc="Inter-event gap profile per user: lag() over the per-user "
    "time-ordered stream, then gap count / mean / max in seconds. "
    "The session-health metric behind churn features. NULL-ts policy "
    "(engine-wide, streaming/events.py): a gap to an event with no "
    "timestamp is undefined, so NULL-ts events are excluded "
    "explicitly on both sides — NULL arithmetic happens to poison "
    "the boundary gaps identically under either engine's NULL sort "
    "position, but the filter makes the semantics a decision instead "
    "of a coincidence. NULL-identity policy (r9 orphan-FK axis): a "
    "gap between two ANONYMOUS events is a fabricated signal — the "
    "pooled NULL-user partition would measure intervals between "
    "different real people; NULL-user events are excluded explicitly "
    "on both sides (sequence operators require identity — engine-wide "
    "policy, operators/events.py).",
    oracle="""
        WITH e AS (
            SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ), g AS (
            SELECT user_id,
                   ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) AS gap_us
            FROM e
        )
        SELECT user_id,
               CAST(count(gap_us) AS BIGINT)            AS n_gaps,
               round(avg(gap_us) / 1e6, 2)              AS mean_gap_s,
               round(CAST(max(gap_us) AS DOUBLE) / 1e6, 2) AS max_gap_s
        FROM g GROUP BY user_id
        HAVING count(gap_us) > 0
    """,
)
def events_intervisit_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts_us").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts_us")
    gaps = ev.select(
        "user_id", (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap_us")
    )
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_us").cast("bigint").alias("n_gaps"),
            F.round(F.avg("gap_us") / 1e6, 2).alias("mean_gap_s"),
            F.round(F.max("gap_us").cast("double") / 1e6, 2).alias("max_gap_s"),
        )
        .filter(F.col("n_gaps") > 0)
    )


@register(
    "events_markov_transitions",
    tags=("window", "lead", "events", "agg"),
    doc="First-order Markov transition matrix over per-user event "
    "streams: lead() pairs each event with the user's next event "
    "(ties broken by event_id), then (from, to) counts and the "
    "row-normalized transition probability. One shuffle for the "
    "per-user window, one partial-aggregable count; the normalizing "
    "window runs on the tiny |types|x|types| aggregate. NULL-ts "
    "policy (engine-wide, streaming/events.py): an event with no "
    "timestamp has no position in the transition stream, so NULL-ts "
    "events are excluded explicitly on both sides — without the "
    "filter Spark (NULLS FIRST asc) splices them at the START of each "
    "user's stream while DuckDB (NULLS LAST) splices them at the END, "
    "shifting every adjacent (from, to) pair; the r9 NULL-ts edge "
    "injection caught exactly that. NULL-identity policy (r9 "
    "orphan-FK axis): a transition between two ANONYMOUS events is a "
    "fabricated edge — the pooled NULL-user partition would chain "
    "different real people's events into (from, to) pairs that never "
    "happened; NULL-user events are excluded explicitly on both "
    "sides (sequence operators require identity — engine-wide "
    "policy, operators/events.py).",
    oracle="""
        WITH e AS (
            SELECT event_id, user_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ), p AS (
            SELECT event_type,
                   lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts_us, event_id
                   ) AS next_type
            FROM e
        )
        SELECT event_type, next_type,
               CAST(count(*) AS BIGINT) AS n,
               round(CAST(count(*) AS DOUBLE)
                     / sum(count(*)) OVER (PARTITION BY event_type), 4) AS p
        FROM p
        WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts_us").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w_norm = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w_norm), 4).alias("p"),
    )


# ---------------------------------------------------------------------------
# Data-quality operators
# ---------------------------------------------------------------------------

_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority")


@register(
    "orders_column_profile",
    tags=("quality", "agg", "orders"),
    doc="Post-load column profiling: per-column row/null/exact-distinct "
    "counts and min/max — the validation pass run after every load. "
    "One aggregation pass (multi-distinct plans as a single Expand + "
    "partial agg); output is one row per column regardless of input "
    "size. The documented 100 TB switch is approx_count_distinct "
    "(operators/quality.py:profile_columns).",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS column_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_value,
               CAST(max({c}) AS VARCHAR) AS max_value
        FROM orders
        """
        for c in _PROFILE_COLS
    ),
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import profile_columns

    o = table(spark, sf_dir, "orders")
    return profile_columns(o, list(_PROFILE_COLS))


@register(
    "events_orphan_users",
    tags=("quality", "join", "events"),
    doc="Referential-integrity check: event rows whose user_id has no "
    "customer — the orphan-FK audit run before publishing a mart. "
    "Left-anti equi-join (AQE picks broadcast vs shuffle) + one "
    "partial-aggregable count; single-row output at any scale.",
    oracle="""
        SELECT CAST(count(*) AS BIGINT)                 AS n_orphan_rows,
               CAST(count(DISTINCT user_id)
                    + CASE WHEN count(*) FILTER (WHERE user_id IS NULL) > 0
                           THEN 1 ELSE 0 END AS BIGINT) AS n_orphan_keys
        FROM events e
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
    """,
)
def events_orphan_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import orphan_keys

    ev = table(spark, sf_dir, "events").select("user_id")
    cust = table(spark, sf_dir, "customer")
    return orphan_keys(ev, cust, "user_id", "c_custkey")


_WEEK_US = 7 * 86400 * 1_000_000


@register(
    "events_retention_cohorts",
    tags=("events", "window", "agg", "analytics"),
    doc="Cohort retention matrix: users grouped by first-activity week "
    "(cohort), distinct active users per (cohort, week offset) — the "
    "product-analytics staple. The cohort assignment is a min-window "
    "over user (one shuffle on user_id), the matrix a second "
    "partial-aggregable rollup; output is bounded by weeks², not by "
    "event count. NULL-ts policy (engine-wide, streaming/events.py): "
    "an event with no timestamp belongs to no activity week, so "
    "NULL-ts events are excluded explicitly on both sides — without "
    "the filter both engines would emit a (cohort, NULL-offset) "
    "matrix row for every user with any untimestamped event, a "
    "meaningless bucket in a retention matrix. NULL-identity policy "
    "(r9 orphan-FK axis): retention is membership of a USER across "
    "weeks — anonymous events have no one to retain; the pooled "
    "NULL-user partition would mint a cohort whose count_distinct "
    "then tallies it as ZERO users, an all-zero phantom matrix row in "
    "both engines. NULL-user events are excluded explicitly on both "
    "sides (sequence operators require identity — engine-wide "
    "policy, operators/events.py).",
    oracle=f"""
        WITH e AS (
            SELECT user_id,
                   CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / {_WEEK_US}) AS BIGINT)
                       AS week
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ), c AS (
            SELECT user_id, week,
                   min(week) OVER (PARTITION BY user_id) AS cohort_week
            FROM e
        )
        SELECT cohort_week,
               week - cohort_week AS week_offset,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM c
        GROUP BY cohort_week, week - cohort_week
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts_us").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.floor(F.col("ts_us") / _WEEK_US).cast("bigint").alias("week"))
    )
    w = Window.partitionBy("user_id")
    cohorted = ev.withColumn("cohort_week", F.min("week").over(w))
    return (
        cohorted.groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Decimal arithmetic (r14 axis)
# ---------------------------------------------------------------------------


@register(
    "decimal_uplift_totals",
    tags=("agg", "decimal", "types"),
    doc="Decimal-arithmetic parity (r14 axis; SURVEY §7.4 risk: the "
    "reference's Trino models compute `demand_qty * 1.1` where "
    "DECIMAL x DECIMAL stays decimal): uplift each extended price by "
    "a DECIMAL(2,1) literal 1.1, total the exact product and the "
    "round-to-cents product per return flag — entirely in decimal, "
    "no doubles, so the hash compares EXACT decimal values (both "
    "collectors return scale-faithful Decimals; trailing zeros "
    "match because the declared output scales match). Contract "
    "pinned by tests/test_decimal_parity.py probes: "
    "(1) DECIMAL(12,2) x DECIMAL(2,1) is value-identical cross-"
    "engine (Spark types it (15,3), DuckDB (14,3) — same digits); "
    "(2) SUM over decimal keeps the addend scale in both engines "
    "(Spark widens precision +10, DuckDB to 38) — values identical; "
    "(3) scale reduction goes through round(x, s) THEN cast — both "
    "engines round decimals half-away-from-zero, while a bare "
    "downscale CAST diverges on exact halves (Spark HALF_UP 2.345->"
    "2.35, DuckDB 2.345->2.34); "
    "(4) the product stays inside 14 total digits — DuckDB executes "
    "this multiply in a width-18 register and OVERFLOWS past it "
    "where Spark widens to (21,4), so oracle-checked decimal "
    "products must keep w1+w2 <= 18; "
    "(5) bare decimal DIVISION and AVG are banned in certified "
    "queries — DuckDB returns DOUBLE (7.00/3.00 = 2.3333335), Spark "
    "DECIMAL(27,15) — a genuine typing divergence, policy-documented "
    "rather than papered over. NaN prices are EXCLUDED as corrupt "
    "data before entering decimal space (the r13 float-key "
    "contract): ANSI Spark errors on CAST(NaN AS DECIMAL) where a "
    "value-domain without NaN is exactly the point of decimal — the "
    "guard is the same IF(isnan) both engines run.",
    oracle="""
        WITH u AS (
            SELECT l_returnflag,
                   CAST(CASE WHEN isnan(l_extendedprice) THEN NULL
                             ELSE l_extendedprice END AS DECIMAL(12,2))
                       * CAST(1.1 AS DECIMAL(2,1)) AS uplift
            FROM lineitem
        )
        SELECT l_returnflag,
               CAST(sum(uplift) AS DECIMAL(38,3)) AS sum_uplift,
               CAST(sum(CAST(round(uplift, 2) AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS sum_uplift_cents,
               CAST(count(*) AS BIGINT) AS n
        FROM u
        GROUP BY l_returnflag
    """,
)
def decimal_uplift_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # the same textual expression the oracle runs: cents-exact input,
    # exact x1.1 in scale-3 decimal
    uplift = F.expr(
        "CAST(IF(isnan(l_extendedprice), NULL, l_extendedprice) AS DECIMAL(12,2))"
        " * CAST(1.1 AS DECIMAL(2,1))"
    )
    u = li.select("l_returnflag", uplift.alias("uplift"))
    return u.groupBy("l_returnflag").agg(
        F.sum("uplift").cast("decimal(38,3)").alias("sum_uplift"),
        F.sum(F.round(F.col("uplift"), 2).cast("decimal(18,2)"))
        .cast("decimal(38,2)")
        .alias("sum_uplift_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
