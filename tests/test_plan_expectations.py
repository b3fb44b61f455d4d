"""Positive plan-shape expectations for headline queries.

`test_plan_guards` asserts the absence of scale-killers everywhere;
this module asserts the PRESENCE of the optimizations each headline
query's 100 TB story depends on, so a refactor that silently drops a
pushed filter, widens a scan, adds a shuffle, or degrades a broadcast
star-join to sort-merge fails CI instead of only showing up in the
next ``plans/`` capture.

Each expectation row is a floor/ceiling, not an exact snapshot, so
benign plan jitter (AQE re-planning, operator renumbering) passes:

- ``pushed_ge``  — scans with non-empty ``PushedFilters`` (floor):
  predicate pushdown reaches the parquet reader.
- ``width_le``   — widest ``ReadSchema`` (ceiling): column pruning
  holds; reading every column for a narrow projection is a bug.
- ``exchanges_le`` — shuffle ``Exchange`` count (ceiling): the
  query's shuffle budget. One extra exchange at sf0.1 is ~10 TB of
  extra network at the 100 TB target.
- ``bhj_ge``     — ``BroadcastHashJoin`` count (floor) for star
  joins whose dimension sides must broadcast.
- ``no_smj``     — no ``SortMergeJoin``: every join in the query is
  expected to broadcast (dim tables) at test scale.
- ``partial_agg`` — map-side partial aggregation before the shuffle.
- ``topk``       — ``TakeOrderedAndProject``: ORDER BY + LIMIT must
  not global-sort.
- ``folds_le``   — ``aggregate(zip_with`` count in the OPTIMIZED
  logical plan (ceiling): each dim-length cosine/norm fold is
  evaluated once per vector or pair. Catalyst inlining a fold into a
  pushed filter or a collapsed Project repeats it in the plan text.

Values were read off the actual sf0.001 plans (identical facts to the
sf0.1 ``plans/`` captures of ``tools/capture_plans.py`` for every
guarded query).
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from mozart_etl_spark.querybank import REGISTRY, _ensure_loaded

_ensure_loaded()
SF = "/root/testdata/sf0.001"

#: name -> expectation dict (missing key = not asserted)
EXPECT: dict[str, dict] = {
    # single-scan agg: filter pushed, 7-col prune on 16-col lineitem,
    # exactly the one agg shuffle, partial agg before it
    "pricing_summary": dict(pushed_ge=1, width_le=7, exchanges_le=1, partial_agg=True),
    # pure extract: pushdown + prune, NO shuffle at all
    "select_project_filter": dict(pushed_ge=1, width_le=4, exchanges_le=0),
    # 3-table star + top-k: all dims broadcast, single agg shuffle,
    # LIMIT via TakeOrderedAndProject
    "top_orders_revenue": dict(
        pushed_ge=3, width_le=4, exchanges_le=1, bhj_ge=4, no_smj=True, topk=True, partial_agg=True
    ),
    # 6-table snowflake: every dim broadcasts, one agg shuffle
    "regional_supplier_revenue": dict(
        pushed_ge=6, width_le=4, exchanges_le=1, bhj_ge=8, no_smj=True, partial_agg=True
    ),
    "cross_nation_trade": dict(
        pushed_ge=6, width_le=5, exchanges_le=1, bhj_ge=8, no_smj=True, partial_agg=True
    ),
    "large_order_customers": dict(
        pushed_ge=3, width_le=4, exchanges_le=1, bhj_ge=4, no_smj=True, topk=True, partial_agg=True
    ),
    # window dedup: one hash-partition shuffle on the window key
    "latest_event_per_user": dict(width_le=4, exchanges_le=1),
    # exact dedup: one shuffle on the md5 fingerprint, map-side combine
    "dedup_exact": dict(width_le=2, exchanges_le=1, partial_agg=True),
    "events_sessionize": dict(pushed_ge=1, width_le=2, exchanges_le=1, partial_agg=True),
    # salted hot-key enrich: dim broadcast (that is the point), one shuffle
    "events_salted_enrich": dict(
        pushed_ge=2, width_le=3, exchanges_le=1, bhj_ge=2, no_smj=True, partial_agg=True
    ),
    "text_top_bigrams": dict(width_le=1, exchanges_le=1, topk=True, partial_agg=True),
    "corpus_clean": dict(pushed_ge=1, width_le=4, exchanges_le=1),
    # single-shuffle funnel fold + final agg
    "events_funnel": dict(pushed_ge=1, width_le=3, exchanges_le=2, partial_agg=True),
    # fingerprint-keyed decontamination: shingle join broadcasts the
    # (smaller, distinct-shingled) eval side
    "corpus_decontaminate": dict(
        pushed_ge=2, width_le=3, exchanges_le=3, bhj_ge=2, no_smj=True, partial_agg=True
    ),
    # r10: total-coverage keep-list (connected_components nodes=) —
    # the universe ⟗ labels join adds 2 keyed exchanges + a static
    # SortMergeJoin. That SMJ is the scale-honest static plan (both
    # sides are corpus-keyed; a hard broadcast hint would OOM a
    # fully-duplicated corpus); at runtime AQE broadcast-converts it
    # when the dup-label table is small — the typical dedup shape,
    # asserted at sf0.01 when this expectation was set (3 BHJ / 1 SMJ
    # in the final adaptive plan). +1 exchange in r11: the
    # duplicate-identity metadata collapse (groupBy node + max) — at
    # scale its exchange IS the metadata side of the SMJ (Aggregate
    # output partitioning satisfies the join requirement, net zero);
    # only the small-data regime pays it, where the collapsed side
    # broadcasts and the agg's exchange carries a 2-column projection.
    "dedup_canonical": dict(pushed_ge=1, width_le=2, exchanges_le=4, bhj_ge=2),
    "corpus_repeated_spans": dict(width_le=2, exchanges_le=2, partial_agg=True),
    # reworked in r5: covered indices aggregate per doc and cut the
    # word ARRAY per row — one fewer scan, shuffle budget 5 -> 3.
    # +1 in r11: the duplicate-identity output dedup — deliberately
    # keyed on the FINAL row-per-document frame (fixed-width
    # id/counts/fp rows, the narrowest shuffle available; deduping
    # the input would shuffle the corpus's word arrays and break the
    # broadcast join's streamed side). Wall time at sf0.1 is parity
    # with the pre-dedup shape (3.4-3.6 s vs 3.68 s).
    "corpus_span_scrub": dict(pushed_ge=1, width_le=2, exchanges_le=4, partial_agg=True),
    # anti-join novelty filter on 16-byte fingerprints
    "corpus_incremental_dedup": dict(pushed_ge=4, width_le=4, exchanges_le=2, no_smj=True),
    # brute-force KNN: embeddings scan pruned to (id, vec); the only
    # shuffle is the final per-query top-k; three folds = one norm per
    # side + one cosine per pair (the knn trio ranks sane-first, see
    # similarity._top_k)
    "knn_bruteforce_cosine": dict(pushed_ge=2, width_le=2, exchanges_le=1, folds_le=3),
    # banded LSH self-join, since r8 with the registered
    # collapse_identical=True + max_bucket_size=256 staging: the
    # collapse window and the cap's occupancy window both run INSIDE
    # localCheckpoint barriers (evaluated once into materialized
    # blocks), so the final frame must stay Window-free — a Window
    # reappearing here means a barrier moved and a self-join side is
    # recomputing the count. Scans sit behind the checkpoint stubs
    # (no scan facts, like dedup_minhash_lsh); band equi-joins and
    # vector re-attach broadcast at this scale; shuffle budget 2 =
    # the candidate-pair dedup + the r14 _rescore_parallelism_rescue's
    # conditional RoundRobin above it (counted since the r15 fan-out
    # discount tightening; it only fires when AQE's byte model would
    # under-parallelize the rescore and inserts no shuffle at cluster
    # scale — pinned in test_rescore_parallelism_rescue_bounds).
    # folds: the vector norm, printed once per re-attach side, and the
    # cosine in the pushed threshold conjuncts (`>=`, then isnan) and
    # the output; only a pair past `>=` folds a second time
    "dedup_embedding_lsh": dict(
        exchanges_le=2, bhj_ge=4, no_smj=True, no_window=True, folds_le=5
    ),
    # exact all-pairs twin: 12 of the folds are the per-vector norm and
    # its inlined guard in the four scans of the self-join; the cosine
    # sits once in the join condition and once in the output
    "dedup_embedding_cosine": dict(folds_le=14),
    # r8: rollup/cube run as the re-aggregation cascade
    # (operators/agg.py) — base scanned/shuffled once at the finest
    # grain behind a lazy localCheckpoint, coarser sets re-aggregate
    # the tiny partials, ANSI empty-input grand-total row preserved.
    # The STATIC plan re-prints the shared pre-checkpoint subtree
    # under every union branch, so the exchange ceiling counts the
    # base exchange once per branch; at runtime the partial
    # materializes once and the re-agg exchanges move partial-sized
    # data (~|distinct keys| rows), not base rows.
    "revenue_cube": dict(width_le=3, exchanges_le=6, partial_agg=True),
    "revenue_rollup": dict(width_le=3, exchanges_le=4, partial_agg=True),
    "customer_balance_deciles": dict(exchanges_le=2, partial_agg=True),
    "corpus_pack_sequences": dict(width_le=3, exchanges_le=1),
    # r6 widening: the remaining headline/no-oracle queries. Queries
    # whose returned frame is a localCheckpoint stub (dedup_components)
    # carry no scan facts and are left unguarded on purpose; for the
    # minhash/jaccard/shard entries the pre-checkpoint scans likewise
    # vanish from the final plan, so only the post-checkpoint shuffle
    # and join facts are asserted.
    "dedup_minhash_lsh": dict(exchanges_le=1, bhj_ge=4, no_smj=True),
    "dedup_ngram_jaccard": dict(exchanges_le=3, bhj_ge=4, no_smj=True, topk=True, partial_agg=True),
    # one scan -> Arrow kernel, zero shuffles
    "dedup_simhash": dict(width_le=2, exchanges_le=0),
    "knn_lsh_cosine": dict(pushed_ge=2, width_le=2, exchanges_le=2, no_smj=True, folds_le=3),
    # five folds: query norm, centroid norm, probe cosine, candidate
    # norm, final cosine
    "knn_ivf_cosine": dict(pushed_ge=2, width_le=2, exchanges_le=4, partial_agg=True, folds_le=5),
    "corpus_shard_plan": dict(exchanges_le=1, bhj_ge=1, no_smj=True),
    # as-of via union + last_value window: ONE shuffle, NO join at all
    "asof_click_view": dict(pushed_ge=1, width_le=4, exchanges_le=1, no_smj=True),
    "range_join_click_views": dict(pushed_ge=2, width_le=4, exchanges_le=2, no_smj=True, partial_agg=True),
    "nation_revenue_running_share": dict(
        pushed_ge=2, width_le=3, exchanges_le=2, bhj_ge=2, no_smj=True, partial_agg=True
    ),
    # split plain/distinct passes: no Expand row-multiplication, the
    # profiled-column prune holds on both scans
    "orders_column_profile": dict(width_le=5, exchanges_le=3, partial_agg=True),
    # |dup|^2 expansion hash-repartitioned (r5 fix) then bounded
    # levenshtein: the repartition + topk shuffles are the budget
    "part_name_typo_pairs": dict(pushed_ge=3, width_le=2, exchanges_le=3, bhj_ge=4, topk=True, no_smj=True),
    # salted two-level cap: per-(group,salt) prune + global window
    "corpus_source_cap": dict(width_le=2, exchanges_le=2),
    # r14 self-check: sketch rollup (2 exchanges) + exact-distinct
    # twin (expand, 2 exchanges) joined broadcast on the 5-row
    # per-type frames — the exact leg is the certification price;
    # production rollups run the sketch leg alone
    "events_user_sketch_rollup": dict(width_le=3, exchanges_le=4, bhj_ge=1, no_smj=True),
    # r9 NULL-ts axis: the explicit NULL-ts exclusion must reach the
    # parquet scan as IsNotNull(ts), not sit post-scan — pushed_ge
    # pins it (the other NULL-ts queries above already carry
    # pushed_ge floors that the new filter keeps satisfied)
    "events_markov_transitions": dict(pushed_ge=1, width_le=4, exchanges_le=3, partial_agg=True),
    "events_intervisit_gaps": dict(pushed_ge=1, width_le=2, exchanges_le=1, partial_agg=True),
    "events_retention_cohorts": dict(pushed_ge=1, width_le=2, exchanges_le=2, partial_agg=True),
    "segment_year_pivot": dict(pushed_ge=2, width_le=2, exchanges_le=2, partial_agg=True),
    "order_price_quantiles": dict(width_le=2, exchanges_le=1),
}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


#: tree-section node line: "   :  +- Exchange (13)" — op name then id
#: LAST; detail headers ("(13) Exchange") put the id first and do not
#: match, so this regex selects exactly the tree lines.
_TREE_NODE = re.compile(r"([A-Za-z][A-Za-z ]*?)\s*\((\d+)\)\s*$")


def _fan_out_rr_ids(plan: str) -> set[str]:
    """Ids of RoundRobin Exchange nodes sitting DIRECTLY above a
    parquet scan (through Filter/Project only) — the io.fan_out_scan
    shape, the one keyless repartition the shuffle budget discounts.
    r15 tightening (r14 verdict): a raw RoundRobinPartitioning
    substring count would also discount any future mid-plan
    repartition(n) — including similarity._rescore_parallelism_rescue,
    whose conditional RR above the pair dedup now COUNTS (its query's
    ceiling names it)."""
    rr_ids = set(
        re.findall(
            r"\((\d+)\) Exchange\nInput[^\n]*\nArguments: RoundRobinPartitioning",
            plan,
        )
    )
    if not rr_ids:
        return set()
    nodes = []  # (column, name, id) in tree order
    for line in plan.split("\n\n", 1)[0].splitlines():
        m = _TREE_NODE.search(line)
        if m:
            nodes.append((m.start(1), m.group(1).strip(), m.group(2)))
    fan_out = set()
    for idx, (col, name, nid) in enumerate(nodes):
        if name != "Exchange" or nid not in rr_ids:
            continue
        for col2, name2, _ in nodes[idx + 1 :]:
            if col2 <= col:
                break
            if name2 in ("Filter", "Project"):
                continue
            if name2 == "Scan parquet":
                fan_out.add(nid)
            break
    return fan_out


def _facts(plan: str) -> dict:
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()]
    widths = [len(s.split(",")) for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)]
    # Scan-adjacent keyless RoundRobin exchanges are excluded from the
    # shuffle budget: they come from io.fan_out_scan — the r14
    # CONDITIONAL small-scan fan-out (row-group-starved local files
    # only; a production table with healthy row groups never takes
    # it), so they are not part of the query's 100 TB shuffle story
    # the ceiling pins. Every OTHER RoundRobin (a mid-plan
    # repartition(n), including the conditional rescore rescue) and
    # all keyed repartitions (hash/range) stay counted.
    return dict(
        pushed=len(pushed),
        max_width=max(widths) if widths else 0,
        exchanges=len(re.findall(r"\(\d+\) Exchange", plan))
        - len(_fan_out_rr_ids(plan)),
        bhj=plan.count(" BroadcastHashJoin"),
        smj=plan.count(" SortMergeJoin"),
        topk="TakeOrderedAndProject" in plan,
        partial_agg=bool(re.search(r"partial_(sum|count|avg|min|max)", plan)),
        window=plan.count(" Window"),
    )


@pytest.mark.parametrize("name", sorted(EXPECT))
def test_plan_expectation(spark, name):
    exp = EXPECT[name]
    df = REGISTRY[name].fn(spark, SF)
    facts = _facts(_plan(df))
    errs = []
    if "folds_le" in exp:
        folds = df._jdf.queryExecution().optimizedPlan().toString().count("aggregate(zip_with")
        if folds > exp["folds_le"]:
            errs.append(f"fold repeated: {folds} aggregate(zip_with folds > {exp['folds_le']}")
    if "pushed_ge" in exp and facts["pushed"] < exp["pushed_ge"]:
        errs.append(f"pushdown lost: {facts['pushed']} scans pushed < {exp['pushed_ge']}")
    if "width_le" in exp and facts["max_width"] > exp["width_le"]:
        errs.append(f"pruning lost: widest scan {facts['max_width']} > {exp['width_le']} cols")
    if "exchanges_le" in exp and facts["exchanges"] > exp["exchanges_le"]:
        errs.append(f"shuffle budget blown: {facts['exchanges']} > {exp['exchanges_le']}")
    if "bhj_ge" in exp and facts["bhj"] < exp["bhj_ge"]:
        errs.append(f"broadcast joins lost: {facts['bhj']} < {exp['bhj_ge']}")
    if exp.get("no_smj") and facts["smj"]:
        errs.append(f"{facts['smj']}x SortMergeJoin where all joins should broadcast")
    if exp.get("topk") and not facts["topk"]:
        errs.append("top-k degraded to global sort (no TakeOrderedAndProject)")
    if exp.get("no_window") and facts["window"]:
        errs.append(
            f"{facts['window']}x Window leaked past a checkpoint barrier "
            "(should be evaluated once into the materialized stage)"
        )
    if exp.get("partial_agg") and not facts["partial_agg"]:
        errs.append("map-side partial aggregation missing")
    assert not errs, f"{name}: " + "; ".join(errs)


def test_mid_plan_round_robin_counts_against_budget(spark):
    """The fan-out discount must stay SHAPE-scoped (r15): a synthetic
    repartition(n) ABOVE an aggregation is exactly the accidental
    mid-plan shuffle the budget exists to catch, so it must count —
    while the same repartition directly above the scan (the
    io.fan_out_scan shape) is discounted."""
    from mozart_etl_spark.io import table

    docs = table(spark, SF, "documents")
    mid = (
        docs.groupBy("source").count().repartition(8).selectExpr("source", "count")
    )
    assert _facts(_plan(mid))["exchanges"] == 2  # agg exchange + the RR

    scan_adjacent = docs.repartition(8).groupBy("source").count()
    assert _facts(_plan(scan_adjacent))["exchanges"] == 1  # agg exchange only


def test_fan_out_rr_ids_discounts_only_a_scan_adjacent_round_robin(spark):
    """Pins what ``_fan_out_rr_ids`` discounts, on real Spark plans: a
    repartition(n) directly above a parquet scan, through Filter and
    Project only, is discounted; the same repartition above a join or
    an aggregate is a mid-plan shuffle and stays counted."""
    from pyspark.sql import functions as F

    from mozart_etl_spark.io import table

    docs = table(spark, SF, "documents")
    scan = (
        docs.filter(F.col("doc_id") > 3)
        .select("doc_id", (F.col("doc_id") + 1).alias("x"))
        .repartition(4)
    )
    join = (
        docs.select("doc_id", "source")
        .join(docs.select("doc_id", F.length("text").alias("n")), "doc_id")
        .repartition(4)
    )
    agg = docs.groupBy("source").count().repartition(4)
    rr = re.compile(r"\((\d+)\) Exchange\nInput[^\n]*\nArguments: RoundRobinPartitioning")
    for shape, df, discounted in [("scan", scan, True), ("join", join, False), ("agg", agg, False)]:
        plan = _plan(df)
        rr_ids = set(rr.findall(plan))
        assert len(rr_ids) == 1, f"{shape}: expected one RoundRobin exchange"
        if discounted:
            assert "Filter" in plan and "Project" in plan, f"{shape}: not the pinned shape"
        assert _fan_out_rr_ids(plan) == (rr_ids if discounted else set()), shape
