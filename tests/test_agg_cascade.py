"""Unit pins for operators/agg.py — the rollup/cube re-aggregation
cascade.

The load-bearing claims: (1) on non-empty input the cascade's output
multiset is exactly Spark's native rollup()/cube() (same rows, same
types, including data-NULL vs subtotal-NULL coincidence); (2) on
EMPTY input the cascade emits the ANSI grand-total row (count 0, sums
NULL) that native Expand-based rollup/cube drop; (3) the gid literal
is bit-compatible with grouping(k1)*2+grouping(k2).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mozart_etl_spark.operators.agg import cascade_grouping_sets


def _rows(df):
    rows = [tuple(r) for r in df.collect()]
    return sorted(rows, key=lambda t: tuple((v is None, str(v)) for v in t))


def _base(spark):
    return spark.createDataFrame(
        [
            ("A", "x", 1.0),
            ("A", "y", 2.0),
            ("B", "x", 4.0),
            ("B", None, 8.0),   # data NULL key — must coincide with subtotal NULL
            (None, "y", 16.0),
            ("B", "x", None),   # NULL measure — sum skips, count keeps
        ],
        "k1 string, k2 string, v double",
    )


def test_cascade_rollup_matches_native_on_nonempty(spark):
    df = _base(spark)
    ours = cascade_grouping_sets(
        df, ["k1", "k2"], {"s": ("sum", "v"), "n": ("count",)}, sets="rollup"
    )
    native = df.rollup("k1", "k2").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    assert _rows(ours.select("k1", "k2", "s", "n")) == _rows(native)


def test_cascade_cube_matches_native_with_gid(spark):
    df = _base(spark)
    ours = cascade_grouping_sets(
        df, ["k1", "k2"], {"s": ("sum", "v"), "n": ("count",)},
        sets="cube", grouping_id="gid",
    )
    native = df.cube("k1", "k2").agg(
        (F.grouping("k1") * 2 + F.grouping("k2")).cast("bigint").alias("gid"),
        F.sum("v").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    assert _rows(ours.select("k1", "k2", "gid", "s", "n")) == _rows(
        native.select("k1", "k2", "gid", "s", "n")
    )


def test_cascade_emits_ansi_grand_total_on_empty(spark):
    df = _base(spark).limit(0)
    got = cascade_grouping_sets(
        df, ["k1", "k2"], {"s": ("sum", "v"), "n": ("count",)},
        sets="cube", grouping_id="gid",
    ).collect()
    # ANSI: only the () grouping set survives empty input — one row,
    # NULL keys, gid=3, count 0, sum NULL. Native Spark cube returns
    # ZERO rows here (the documented Expand gap this cascade closes).
    assert len(got) == 1
    r = got[0]
    assert (r["k1"], r["k2"], r["gid"], r["n"], r["s"]) == (None, None, 3, 0, None)
    assert _base(spark).limit(0).cube("k1", "k2").agg(F.count(F.lit(1))).count() == 0


def test_cascade_min_max_decompose(spark):
    df = _base(spark)
    ours = cascade_grouping_sets(
        df, ["k1"], {"lo": ("min", "v"), "hi": ("max", "v")}, sets="rollup"
    )
    native = df.rollup("k1").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    assert _rows(ours.select("k1", "lo", "hi")) == _rows(native)


def test_cascade_count_col_matches_native(spark):
    """("count", col) is SQL's non-null count(col) — partial counts
    sum across levels; the NULL-measure row counts in n_star but not
    n_v, at every grouping level."""
    df = _base(spark)
    ours = cascade_grouping_sets(
        df, ["k1", "k2"], {"n_star": ("count",), "n_v": ("count", "v")}, sets="cube"
    )
    native = df.cube("k1", "k2").agg(
        F.count(F.lit(1)).alias("n_star"), F.count("v").alias("n_v")
    )
    assert _rows(ours.select("k1", "k2", "n_star", "n_v")) == _rows(native)
    # empty input: both counts are 0 on the surviving grand-total row
    got = cascade_grouping_sets(
        df.limit(0), ["k1", "k2"], {"n_star": ("count",), "n_v": ("count", "v")},
        sets="cube",
    ).collect()
    assert [(r["n_star"], r["n_v"]) for r in got] == [(0, 0)]


def test_cascade_measure_surface_is_pinned():
    """The supported measure surface is exactly ("count",),
    ("count", col), and ("sum"|"min"|"max", col) — anything else must
    raise, never silently mis-aggregate (avg belongs at call sites as
    sum/count; multi-arg measures don't decompose over partials)."""
    import pytest

    for bad in [("avg", "v"), ("collect_list", "v"), ("corr", "a", "b"), ("sum", "v", "w")]:
        with pytest.raises(ValueError, match="non-decomposable"):
            cascade_grouping_sets(None, ["k1"], {"m": bad}, sets="rollup")


def test_cascade_decimal_sum_type_matches_native(spark):
    """Re-aggregated decimal sums are cast back to the partial's type:
    every branch — and the union — carries the SAME decimal(p+10, s)
    native rollup produces, instead of widening one step per level."""
    df = spark.createDataFrame(
        [("A", "x", "1.25"), ("A", "y", "2.50"), ("B", "x", "4.75")],
        "k1 string, k2 string, raw string",
    ).select("k1", "k2", F.col("raw").cast("decimal(10,2)").alias("v"))
    ours = cascade_grouping_sets(df, ["k1", "k2"], {"s": ("sum", "v")}, sets="rollup")
    native = df.rollup("k1", "k2").agg(F.sum("v").alias("s"))
    assert ours.schema["s"].dataType == native.schema["s"].dataType  # decimal(20,2)
    assert _rows(ours.select("k1", "k2", "s")) == _rows(native)
