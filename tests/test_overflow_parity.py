"""Cross-engine integer/decimal accumulation-overflow boundary (r12).

The oracle harness proves Spark == DuckDB on every registered query,
but the driver testdata's integer magnitudes never approach 2^63 — so
the engines' overflow postures are otherwise unexamined. The r11
extreme-timestamp axis found the int64→float64 +1 µs corruption at
2^53; this is the same terrain for the *aggregation* paths. Measured
boundary (every case below is a live measurement, not doctrine):

- ``SUM(BIGINT)`` crossing 2^63: Spark under ANSI throws
  ``ARITHMETIC_OVERFLOW`` (and the throw is QUERY-GLOBAL — one
  overflowing group poisons every other group's result, because the
  codegen'd fold raises at task level); DuckDB promotes the
  accumulator to HUGEINT (int128) and returns the exact per-group
  sums. A guaranteed engine divergence the moment any integer fold
  sees values near 2^63. THE ENGINE POSTURE: ANSI-throw
  (session.py RUNTIME_CONFS pins ``spark.sql.ansi.enabled=true`` so
  a cluster-side default can't silently swap throw for pre-ANSI
  wraparound — a silently negative 100 TB byte budget is the worst
  outcome of the three). No registered fold needs a value past
  2^63; one that did would widen its addends in the query itself
  (``sum(CAST(x AS DECIMAL(38,0)))``).
- Legal near-max: sums that stop AT 2^63-1 are exact and equal in
  both engines (no early widening, no precision loss).
- ``AVG(BIGINT)``: both engines fold in DOUBLE — no throw at any
  magnitude, bit-equal results (pinned at the 2×int64-max mean).
- Scalar arithmetic (``x*2``, ``x+1`` at int64 max) and
  ``CAST(9.5e18 AS BIGINT)``: BOTH engines raise — loud-vs-loud
  agreement, no contract needed beyond "the query fails on both
  sides".
- ``SUM(DECIMAL(38,0))`` overflowing p=38: both engines raise
  (Spark NUMERIC_VALUE_OUT_OF_RANGE, DuckDB HUGEINT-addition
  overflow) — loud-vs-loud.
- Max-scale DECIMAL(38,38): Spark stores, passes through, and
  aggregates it exactly; DuckDB ERRORS on ``avg``/``sum`` over the
  type (its decimal aggregate casts through a representation that
  can't hold scale-38 — measured ConversionException). This is an
  ORACLE-methodology bound, not an engine gap: max-scale decimal
  aggregates are Spark-certifiable only by unit pin, like the
  round(x,4) sub-ulp bound documented in querybank/__init__.py.
- Decimal division result TYPES diverge by design: Spark follows its
  documented p/s result rules (DECIMAL(38,0)/DECIMAL(38,0) →
  scale-6 decimal, 10/3 = 3.333333); DuckDB returns DOUBLE
  (3.3333333333333335). Any future decimal-division query must CAST
  both sides to one explicit type or it cannot be oracle-compared.

Reference anchor: the DECIMAL(p,s) ingest surface the reference maps
(`/root/reference/mozart_etl/code_locations/_tenant_factory.py:49-50`,
`docker/postgres/init.sql:15`) — Spark's JDBC reader carries the
same p/s through to these Spark semantics.
"""

from __future__ import annotations

from decimal import Decimal

import duckdb
import pytest

from pyspark.sql import functions as F

I64_MAX = 9223372036854775807


def _duck(sql: str, setup: list[str]):
    con = duckdb.connect()
    for s in setup:
        con.execute(s)
    return con.execute(sql).fetchall()


def test_ansi_posture_is_pinned_by_engine_confs(spark):
    """The throw-not-wrap posture must survive a session whose ambient
    default says otherwise — apply_runtime_confs restores it."""
    from mozart_etl_spark.session import RUNTIME_CONFS, apply_runtime_confs

    assert RUNTIME_CONFS["spark.sql.ansi.enabled"] == "true"
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        apply_runtime_confs(spark)
        assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_sum_bigint_overflow_throws_and_is_query_global(spark):
    """Spark: ANSI ARITHMETIC_OVERFLOW, poisoning even the clean
    group. DuckDB: exact HUGEINT per-group sums. The measured
    divergence the ANSI posture turns from silent wrap into a loud
    failure."""
    df = spark.createDataFrame(
        [("a", I64_MAX), ("a", 5), ("b", 7)], "g STRING, x BIGINT"
    )
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        df.groupBy("g").agg(F.sum("x").alias("s")).collect()
    got = _duck(
        "SELECT g, sum(x) AS s FROM t GROUP BY g ORDER BY g",
        [
            "CREATE TABLE t(g VARCHAR, x BIGINT)",
            f"INSERT INTO t VALUES ('a', {I64_MAX}), ('a', 5), ('b', 7)",
        ],
    )
    assert got == [("a", I64_MAX + 5), ("b", 7)]  # exact, past 2^63


def test_sum_bigint_at_exact_max_agrees(spark):
    df = spark.createDataFrame([(I64_MAX - 1,), (1,)], "x BIGINT")
    assert df.agg(F.sum("x")).collect()[0][0] == I64_MAX
    got = _duck(
        "SELECT sum(x) FROM t",
        ["CREATE TABLE t(x BIGINT)", f"INSERT INTO t VALUES ({I64_MAX - 1}), (1)"],
    )
    assert got[0][0] == I64_MAX


def test_avg_bigint_double_accumulator_agrees(spark):
    df = spark.createDataFrame([(I64_MAX,), (I64_MAX,)], "x BIGINT")
    s = df.agg(F.avg("x")).collect()[0][0]
    d = _duck(
        "SELECT avg(x) FROM t",
        ["CREATE TABLE t(x BIGINT)", f"INSERT INTO t VALUES ({I64_MAX}), ({I64_MAX})"],
    )[0][0]
    assert s == d == float(I64_MAX)  # both fold in double, bit-equal


def test_scalar_overflow_loud_on_both_engines(spark):
    df = spark.createDataFrame([(I64_MAX,)], "x BIGINT")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        df.select((F.col("x") * 2).alias("y")).collect()
    with pytest.raises(Exception, match="(?i)overflow"):
        _duck(
            "SELECT x * 2 FROM t",
            ["CREATE TABLE t(x BIGINT)", f"INSERT INTO t VALUES ({I64_MAX})"],
        )
    with pytest.raises(Exception, match="CAST_OVERFLOW|overflow"):
        df.select(F.lit(9.5e18).cast("bigint")).collect()
    with pytest.raises(Exception, match="(?i)can't be cast|overflow"):
        _duck("SELECT CAST(9.5e18 AS BIGINT)", [])


def test_sum_decimal38_overflow_loud_on_both_engines(spark):
    big = Decimal("9" * 38)
    df = spark.createDataFrame([(big,), (big,)], "x DECIMAL(38,0)")
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE|out of range"):
        df.agg(F.sum("x")).collect()
    with pytest.raises(Exception, match="(?i)overflow"):
        _duck(
            "SELECT sum(x) FROM t",
            ["CREATE TABLE t(x DECIMAL(38,0))", f"INSERT INTO t VALUES ({big}), ({big})"],
        )


def test_max_scale_decimal_boundary(spark):
    """DECIMAL(38,38), the p/s corner of the reference's DECIMAL
    ingest surface. Measured boundary, three distinct classes:

    1. INGEST: DuckDB's numeric-LITERAL path routes through double
       and cannot construct the value (ConversionException on
       ``SELECT 0.99…38nines``); string-cast and parameter binding
       are exact. Spark decimal literals are exact. An oracle SQL
       string must therefore never spell a >15-significant-digit
       decimal as a bare numeric literal — quote-and-cast it.
    2. AVG: Spark folds in decimal and returns the exact
       DECIMAL(38,38); DuckDB with ONE row returns DOUBLE 1.0 —
       a silent precision-loss VALUE divergence (with ≥2 rows its
       HUGEINT sum overflows first, loudly). Max-scale decimal means
       are certifiable only by this unit pin, not by the oracle
       harness — same methodology class as the round(x,4) sub-ulp
       bound in querybank/__init__.py.
    3. SUM of 2 rows near 1.0: both engines raise (Spark
       NUMERIC_VALUE_OUT_OF_RANGE on the (38,38) result type,
       DuckDB HUGEINT-addition overflow) — loud-vs-loud.
    Order statistics (max/min) are exact and equal on both sides."""
    ms = Decimal("0." + "9" * 38)
    df = spark.createDataFrame([(ms,), (ms,)], "x DECIMAL(38,38)")
    assert all(r["x"] == ms for r in df.select("x").collect())
    assert df.agg(F.max("x")).collect()[0][0] == ms
    # spark AVG: exact decimal, even at max scale
    assert df.limit(1).agg(F.avg("x")).collect()[0][0] == ms

    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DECIMAL(38,38))")
    # (1) literal ingest goes through double and fails
    with pytest.raises(Exception, match="(?i)could not cast"):
        con.execute(f"INSERT INTO t VALUES ({ms})")
    con.execute("INSERT INTO t VALUES (?)", [ms])  # param binding is exact
    assert con.execute("SELECT max(x) FROM t").fetchone()[0] == ms
    # (2) duck AVG silently degrades to double — the value divergence
    assert con.execute("SELECT avg(x) FROM t").fetchone()[0] == 1.0
    # (3) two-row SUM: loud on both engines
    con.execute("INSERT INTO t VALUES (?)", [ms])
    with pytest.raises(Exception, match="(?i)overflow"):
        con.execute("SELECT sum(x) FROM t").fetchall()
    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE|overflow"):
        df.agg(F.sum("x")).collect()


def test_decimal_division_result_types_diverge_by_design(spark):
    """Spark DECIMAL(38,0)/DECIMAL(38,0) → scale-6 DECIMAL
    (3.333333); DuckDB → DOUBLE (3.3333333333333335). Neither engine
    is wrong; parity breaks at the TYPE level. Contract: a decimal
    division in an oracle-certified query must CAST both sides to
    one explicit type first."""
    df = spark.createDataFrame(
        [(Decimal(10), Decimal(3))], "x DECIMAL(38,0), y DECIMAL(38,0)"
    )
    s = df.select((F.col("x") / F.col("y")).alias("q")).collect()[0]["q"]
    assert s == Decimal("3.333333")
    d = _duck(
        "SELECT x / y FROM t",
        ["CREATE TABLE t(x DECIMAL(38,0), y DECIMAL(38,0))", "INSERT INTO t VALUES (10, 3)"],
    )[0][0]
    assert isinstance(d, float) and abs(d - 10 / 3) < 1e-15
    # the contract's fix: explicit double cast on both sides agrees
    s2 = df.select(
        (F.col("x").cast("double") / F.col("y").cast("double")).alias("q")
    ).collect()[0]["q"]
    assert s2 == d
