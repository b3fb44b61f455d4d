"""``tools/capture_plans.py`` normalises what a session's history changes.

A whole-bank capture of two trees compares with a plain ``diff -r`` only
if a query's captured plan does not depend on what the session built
before it.
"""

from __future__ import annotations

from mozart_etl_spark import querybank
from tools.capture_plans import capture, normalise

#: one multi-distinct aggregate as Spark plans it under two expression-id
#: states: the distinct groups swap their group ids and column order
_ORDERS = (
    ("l_partkey#1L", "l_suppkey#2L", "1", "2"),
    ("l_suppkey#2L", "l_partkey#1L", "2", "1"),
)


def _plan(first: str, second: str, gid_part: str, gid_supp: str) -> str:
    cols = f"l_returnflag#3, {first}, {second}, gid#4"
    return f"""(2) Expand
Input [3]: [l_partkey#1L, l_suppkey#2L, l_returnflag#3]
Arguments: [[l_returnflag#3, {first}, null, 1], [l_returnflag#3, null, {second}, 2]], [{cols}]

(3) HashAggregate
Input [4]: [{cols}]
Keys [4]: [{cols}]

(4) Exchange
Input [4]: [{cols}]
Arguments: hashpartitioning({cols}, 8), ENSURE_REQUIREMENTS, [plan_id=7]

(6) HashAggregate
Functions [2]: [partial_count(l_partkey#1L) FILTER (WHERE (gid#4 = {gid_part})), \
partial_count(l_suppkey#2L) FILTER (WHERE (gid#4 = {gid_supp}))]
"""


def test_expand_order_is_normalised():
    a, b = (normalise(_plan(*order)) for order in _ORDERS)
    assert a == b
    assert "Arguments: [[l_partkey#L, l_returnflag#, null, 1], [null, l_returnflag#, " in a
    assert "hashpartitioning(l_partkey#L, l_returnflag#, l_suppkey#L, gid#, 8)" in a
    assert "(gid# = 1)), partial_count(l_suppkey#L) FILTER (WHERE (gid# = 2))" in a


def test_capture_does_not_depend_on_what_was_built_before(spark, sf_dir):
    qs = querybank.queries()
    first = capture(qs["distinct_parts_per_flag"](spark, sf_dir))
    for other in ("orders_column_profile", "lineitem_stats", "top_orders_revenue",
                  "text_quality_score", "segment_nation_list"):
        qs[other](spark, sf_dir)
        assert capture(qs["distinct_parts_per_flag"](spark, sf_dir)) == first, other
