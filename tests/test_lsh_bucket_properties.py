"""Differential property test for the LSH hyperplane bucket fold.

``lsh_banded`` projects every vector onto all n_tables*n_planes
hyperplanes in one numpy matmul per Arrow batch and packs each
table's sign bits into its bucket. The result must equal the textbook
definition: bucket(table t) = Σ 2^j over planes j of table t whose
projection <x, plane_j> is >= 0.

The kernel is asserted equal to a pure-Python replica. The matmul may
reorder additions vs the replica's sequential fold, but a sign flip
needs a projection within ~1 ulp of zero — unreachable for random
vectors against fixed gaussian planes (an exact-cancellation
projection would require solving for the plane coefficients, which
hypothesis does not control).
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from mozart_etl_spark.operators import similarity as S

_DIM = 6

_vec = st.lists(
    st.floats(min_value=-4.0, max_value=4.0, allow_nan=False, width=32),
    min_size=_DIM,
    max_size=_DIM,
)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(_vec, min_size=1, max_size=8),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=0, max_value=3),
)
def test_lsh_banded_buckets_match_python_model(spark, vecs, n_planes, n_tables, seed):
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    got = {
        (r["qid"], r["table_id"]): r["bucket"]
        for r in S.lsh_banded(
            df, _DIM, "qid", "qv", n_planes=n_planes, n_tables=n_tables, seed=seed
        ).collect()
    }

    want = {}
    for t in range(n_tables):
        planes = S._hyperplanes(_DIM, n_planes, seed + t)
        for i, v in enumerate(vecs):
            bucket = 0
            for j, p in enumerate(planes):
                proj = 0.0
                for x, y in zip(v, p):  # sequential left fold
                    proj += float(x) * y
                if proj >= 0:
                    bucket |= 1 << j
            want[(i, t)] = bucket
    assert got == want

    # every (row, table) pair appears exactly once
    assert len(got) == len(vecs) * n_tables


def test_lsh_banded_excludes_dim_mismatch_identically(spark):
    """r12 ragged axis: a vector whose length differs from dim is
    entry-EXCLUDED by the _dim_ok filter (before r12 the kernel
    raised ValueError on the whole query; that check remains as an
    unreachable-by-contract assertion). See
    tests/test_ragged_vectors.py for the full-ladder pins."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    out = S.lsh_banded(df, dim=4, out_id="i", out_vec="v").collect()
    assert {r.i for r in out} == {1}


def test_auto_lsh_params_closed_forms():
    """auto_lsh_params must satisfy its two contracts exactly: bucket
    occupancy stays <= target until the plane cap, and the returned
    table count meets the recall identity 1-(1-p^r)^T >= target."""
    import math

    from mozart_etl_spark.operators.similarity import auto_lsh_params

    p95 = 1.0 - math.acos(0.95) / math.pi
    prev_planes = 0
    for n in (10, 500, 2_000, 20_000, 200_000, 2_000_000):
        planes, tables = auto_lsh_params(n, 0.95)
        assert 4 <= planes <= 16
        assert planes >= prev_planes  # monotone in corpus size
        prev_planes = planes
        if planes < 16 and n > 32:  # not clamped at either end
            assert n / 2**planes <= 32  # occupancy contract
        assert 1.0 - (1.0 - p95**planes) ** tables >= 0.95  # recall contract
    # hand-derived pins (also quoted in the docstring)
    assert auto_lsh_params(2_000, 0.95) == (6, 4)
    assert auto_lsh_params(20_000, 0.95) == (10, 8)
    assert auto_lsh_params(2_000_000, 0.95) == (16, 15)
    # degenerate threshold: every pair collides per table
    assert auto_lsh_params(1_000, 1.0)[1] == 1


def test_auto_lsh_params_sawtooth_drift_is_bounded():
    """Names the bound behind SCALING.md's sf10 note (r7: the stress
    decade measured dedup_embedding_lsh at 14.6x where the committed
    decade shows 2.2x — parameter DRIFT, not an asymptotic blowup).
    The resolver's ceil() makes per-row cost a sawtooth, and this test
    pins its amplitude across three decades of synthetic n so a future
    resolver edit cannot silently widen it:

    - occupancy sawtooth: in the engaged, uncapped regime the expected
      bucket occupancy n / 2^planes stays within (target/2, target] —
      the ceil's drift is bounded by EXACTLY 2x;
    - per-decade cost drift: the per-row candidate-volume proxy
      tables * occupancy grows by at most 2.25x across any 10x step of
      n (the 2x occupancy ceil times one integer table step — the
      smooth part of table growth is the documented price of holding
      recall >= 0.95 while planes lengthen, not drift);
    - regime boundary: past n = _LSH_TARGET_OCCUPANCY * 2^_LSH_MAX_PLANES the
      plane cap binds and occupancy grows linearly — the quadratic
      term returns BY DESIGN there (the bucket cap bounds it);
      the drift bounds above only claim the uncapped regime.
    """
    from mozart_etl_spark.operators.similarity import auto_lsh_params

    target_occ = 32.0
    engaged = []  # (n, planes, tables, occupancy) with 4 < planes < 16
    n = 600
    while n <= 2_000_000:
        planes, tables = auto_lsh_params(n, 0.95)
        if 4 < planes < 16:
            engaged.append((n, planes, tables, n / 2**planes))
        n = int(n * 1.01) + 1
    assert len(engaged) > 300  # the regime is actually sampled densely
    for _, _, _, occ in engaged:
        assert target_occ / 2 < occ <= target_occ  # ceil drift == 2x bound
    # per-decade drift of the per-row proxy, both endpoints engaged
    by_n = {e[0]: e for e in engaged}
    worst = 0.0
    for n, planes, tables, occ in engaged:
        hi = by_n.get(next((m for m in by_n if m >= n * 10), None))
        if hi is None or hi[0] > n * 10.5:
            continue
        worst = max(worst, (hi[2] * hi[3]) / (tables * occ))
    assert 0 < worst <= 2.25  # the named bound
    # regime boundary: the cap makes occupancy linear beyond it
    cap_n = int(target_occ * 2**16)
    p1, _ = auto_lsh_params(cap_n * 2, 0.95)
    p2, _ = auto_lsh_params(cap_n * 20, 0.95)
    assert p1 == p2 == 16  # planes pinned at the cap -> occupancy ~ n


def test_auto_lsh_params_table_clamp_and_failure_modes(monkeypatch):
    """Tables are a direct multiplier on candidate-generation cost
    (each table is a full bucket self-join), so the resolver must (a)
    never return more than the table cap, (b) trade planes back down —
    raising per-table collision odds — when the recall target would
    otherwise blow the clamp, and (c) refuse with a named error when
    even (min planes, max tables) cannot reach the target, instead of
    silently returning an unaffordable or under-recall config."""
    import math

    import pytest

    from mozart_etl_spark.operators import similarity
    from mozart_etl_spark.operators.similarity import auto_lsh_params

    # moderate thresholds on a big corpus: the occupancy-optimal 16
    # planes would need ~116 (t=0.8) / ~2000 (t=0.5) tables — the
    # resolver must walk planes back and stay within the clamp while
    # still meeting the recall identity
    for thr in (0.8, 0.6, 0.5):
        p = 1.0 - math.acos(thr) / math.pi
        planes, tables = auto_lsh_params(2_000_000, thr)
        assert tables <= 32
        assert 4 <= planes < 16  # walked back below the occupancy optimum
        assert 1.0 - (1.0 - p**planes) ** tables >= 0.95
    # tighter clamp binds harder
    planes_loose, _ = auto_lsh_params(2_000_000, 0.8)
    with monkeypatch.context() as m:
        m.setattr(similarity, "_LSH_MAX_TABLES", 8)
        planes_tight, tables_tight = auto_lsh_params(2_000_000, 0.8)
    assert tables_tight <= 8 and planes_tight <= planes_loose
    # unreachable: p(threshold=-1) == 0 -> no table count ever collides
    with pytest.raises(ValueError, match="max_tables"):
        auto_lsh_params(1_000, -1.0)
    # unreachable by clamp: even min planes needs more than max tables
    monkeypatch.setattr(similarity, "_LSH_MAX_TABLES", 2)
    with pytest.raises(ValueError, match="min_planes"):
        auto_lsh_params(1_000_000, 0.1)


def test_lsh_near_dup_pairs_auto_keeps_twin_recall(spark):
    """The resolved banding still recovers every injected exact twin: a
    scaled twin has identical hyperplane signs, so it collides in EVERY
    table regardless of the resolved plane count — the
    guaranteed-recall floor of the registered entry."""
    from pyspark.sql import functions as F

    from mozart_etl_spark.io import table

    emb = table(spark, "/root/testdata/sf0.001", "embeddings").select("vec_id", "embedding")
    twins = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: (x * F.lit(0.5)).cast("float")).alias(
            "embedding"
        ),
    )
    pairs = S.lsh_near_dup_pairs(emb.unionByName(twins), dim=64, threshold=0.95)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert {(i, i + 100000) for i in range(20)} <= got


def test_rescore_parallelism_rescue_bounds(spark):
    """The r14 rescore rescue is data-derived at BOTH ends: it
    repartitions the id-only candidate pairs only when AQE's
    byte-based coalescing would under-parallelize the CPU-heavy
    rescore, and it never fires where the candidate table's own bytes
    already justify at least as many partitions (cluster scale), or on
    a corpus too small to fill one partition's pair floor."""
    cand = spark.range(10).selectExpr("id AS doc_a", "id + 1 AS doc_b")

    # tiny corpus: est pairs below the per-partition floor, untouched
    assert S._rescore_parallelism_rescue(cand, 100, 6, 4) is cand

    # local shape (sf0.1-like): 2k vectors, 6 planes, 4 tables ->
    # ~250k estimated pairs, far past the floor while the ~16 B/pair
    # exchange coalesces to 1 partition -> repartition fires, capped
    # at defaultParallelism
    out = S._rescore_parallelism_rescue(cand, 2000, 6, 4)
    assert out is not cand
    expected = min(
        spark.sparkContext.defaultParallelism,
        int(4 * 2000 * (2000 / 2**6) / 2) // S._RESCORE_MIN_PAIRS_PER_PARTITION,
    )
    assert out.rdd.getNumPartitions() == expected

    # cluster scale: candidate bytes alone justify >= defaultParallelism
    # partitions, so AQE needs no rescue and none is inserted
    assert S._rescore_parallelism_rescue(cand, 10_000_000, 16, 32) is cand


def test_unparseable_advisory_size_is_rejected_by_spark(spark):
    """The rescue reads the advisory size with Spark's own size parser,
    and needs no fallback for a value it cannot read: Spark refuses to
    set one."""
    from pyspark.errors import IllegalArgumentException

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    try:
        with pytest.raises(IllegalArgumentException, match="INVALID_CONF_VALUE"):
            spark.conf.set(key, "garbage")
        assert spark.conf.get(key) == prev
    finally:
        spark.conf.set(key, prev)


def test_rescue_reads_suffixed_advisory_size(spark):
    """r15 ADVICE fix: a suffixed advisory size ('256m') is read as the
    size it names, not as the 64 MiB default — a user-RAISED advisory
    size is exactly when AQE coalesces harder and the rescue matters
    most, and a tiny one ('1k') leaves AQE enough partitions."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(key)
    cand = spark.range(10).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    try:
        spark.conf.set(key, "256m")
        assert S._rescore_parallelism_rescue(cand, 2000, 6, 4) is not cand
        # ~125k estimated pairs x 48 B over 1 KiB: thousands of AQE
        # partitions, more than the rescue would ever ask for
        spark.conf.set(key, "1k")
        assert S._rescore_parallelism_rescue(cand, 2000, 6, 4) is cand
    finally:
        spark.conf.set(key, prev)
