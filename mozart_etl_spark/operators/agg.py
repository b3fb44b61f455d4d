"""Grouping-set aggregation (ROLLUP / CUBE) as a re-aggregation
cascade.

Spark compiles ``df.rollup(...)`` / ``df.cube(...)`` to an ``Expand``
node that replicates every input row once per grouping set and feeds
ONE aggregate keyed by ``spark_grouping_id``. That shape has two
problems at the 100 TB target:

1. **ANSI empty-input semantics.** The ``()`` grouping set is a
   global aggregate — SQL defines it to emit exactly one row even
   over zero input rows (``count(*)`` = 0, sums NULL). Expand feeds
   the aggregate zero rows, so Spark's rollup/cube of an empty table
   returns an EMPTY frame while DuckDB/PostgreSQL return the
   grand-total row. Found by the ``empty`` variant sweep
   (tools/variant_testdata.py): a brand-new tenant or an empty
   partition is a real input at scale, and the engines must agree on
   it.
2. **Map-side row multiplication.** Expand materializes
   ``rows × |sets|`` records through the hash aggregate (3× for a
   2-key rollup, 4× for a 2-key cube) before map-side combine.

The cascade computes the FINEST grouping once — the only stage that
touches base rows, same scan + one shuffle as a plain groupBy — and
derives every coarser set by re-aggregating the partials, whose
cardinality is the distinct-key count, not the row count. The ``()``
set becomes a true global aggregate over partials, which emits its
one row on empty input, restoring ANSI semantics. Decomposable
aggregates only (sum / count / min / max — avg as sum÷count at the
call site); re-aggregation of partial sums reorders float addition,
which is the same nondeterminism Spark's own shuffle order already
implies.

The finest partial is lineage-truncated via lazy ``localCheckpoint``
so the union's branches read one materialized block set instead of
re-running the base aggregation per branch (the dedup-chain pattern;
blocks are partial-sized, released by the ContextCleaner).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: measure spec forms accepted by :func:`cascade_grouping_sets`
_DECOMPOSABLE = {"sum", "count", "min", "max"}


def _rollup_sets(keys: list[str]) -> list[tuple[str, ...]]:
    return [tuple(keys[:i]) for i in range(len(keys), -1, -1)]


def _cube_sets(keys: list[str]) -> list[tuple[str, ...]]:
    out = []
    for mask in range(2 ** len(keys) - 1, -1, -1):
        out.append(tuple(k for i, k in enumerate(keys) if mask & (1 << (len(keys) - 1 - i))))
    return out


def cascade_grouping_sets(
    df: DataFrame,
    keys: list[str],
    measures: dict[str, tuple],
    sets: str = "rollup",
    grouping_id: str | None = None,
) -> DataFrame:
    """ANSI-faithful ROLLUP/CUBE via one base aggregation + partial
    re-aggregation per grouping set.

    ``measures`` maps output column name -> ``("count",)`` for
    ``count(*)``, ``("count", col)`` for SQL's non-null ``count(col)``,
    or ``("sum"|"min"|"max", input_col)``; anything else (avg is
    sum÷count at the call site, multi-arg measures are not
    decomposable over partials) raises ``ValueError`` — pinned by
    ``test_agg_cascade`` so a future caller can't silently
    mis-aggregate. ``sets`` is ``"rollup"`` or ``"cube"``; both
    include the finest set, which is the base aggregation itself.
    ``grouping_id`` optionally adds the SQL
    ``GROUPING()`` bit vector (MSB = first key, 1 = aggregated away),
    emitted as a per-set literal — bit-compatible with
    ``grouping(k1) * 2^(n-1) + ... + grouping(kn)``.

    Output multiset equals SQL ``GROUP BY ROLLUP/CUBE`` on every
    input including the empty one; subtotal NULLs and data NULLs
    coincide exactly as they do in SQL (disambiguate via
    ``grouping_id``, as SQL does). Re-aggregated sums are cast back
    to the finest partial's type so every branch (and therefore the
    union) has the SAME column type native rollup/cube would produce
    — for decimal measures Spark's sum-of-sum would otherwise widen
    precision per level; the cast saturates (NULL under non-ANSI) only
    if a re-aggregated total genuinely overflows the partial type,
    i.e. exactly where native rollup's own sum would overflow too.
    """
    grouping_sets = {"rollup": _rollup_sets, "cube": _cube_sets}[sets](keys)
    finest_aggs = []
    for out, spec in measures.items():
        kind = spec[0]
        if kind not in _DECOMPOSABLE or len(spec) > 2:
            raise ValueError(f"non-decomposable measure {out}: {tuple(spec)}")
        if kind == "count":
            # count(*) for the bare form, SQL non-null count(col)
            # otherwise — both decompose as a sum of partial counts
            expr = F.count(F.lit(1)) if len(spec) == 1 else F.count(F.col(spec[1]))
        else:
            expr = getattr(F, kind)(F.col(spec[1]))
        finest_aggs.append(expr.alias(f"_p_{out}"))
    finest = df.groupBy(*keys).agg(*finest_aggs).localCheckpoint(eager=False)
    key_types = {k: finest.schema[k].dataType for k in keys}

    def merged(out: str, kind: str):
        if kind == "count":
            # sum of partial counts; the global set's sum over zero
            # partials is NULL, but SQL count over empty input is 0
            return F.coalesce(F.sum(f"_p_{out}"), F.lit(0).cast("bigint")).alias(out)
        merged_expr = getattr(F, "sum" if kind == "sum" else kind)(F.col(f"_p_{out}"))
        if kind == "sum":
            # type stability: sum-of-partial-sums widens decimals one
            # extra step per level; cast back to the partial's type so
            # every branch matches the finest (= native rollup) type
            merged_expr = merged_expr.cast(finest.schema[f"_p_{out}"].dataType)
        return merged_expr.alias(out)

    branches = []
    for kept in grouping_sets:
        if kept == tuple(keys):
            # the finest set IS the materialized partial — rename, no
            # re-aggregation (and no extra exchange)
            lvl = finest.select(
                *keys, *[F.col(f"_p_{out}").alias(out) for out in measures]
            )
        else:
            merges = [merged(out, spec[0]) for out, spec in measures.items()]
            lvl = finest.groupBy(*kept).agg(*merges) if kept else finest.agg(*merges)
        cols = [
            (F.col(k) if k in kept else F.lit(None).cast(key_types[k])).alias(k) for k in keys
        ]
        if grouping_id is not None:
            gid = sum(
                (0 if k in kept else 1) << (len(keys) - 1 - i) for i, k in enumerate(keys)
            )
            cols.append(F.lit(gid).cast("bigint").alias(grouping_id))
        branches.append(lvl.select(*cols, *measures.keys()))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out
