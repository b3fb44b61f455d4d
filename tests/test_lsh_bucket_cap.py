"""Behavioral pins for the deterministic hot-bucket cap in the
embedding LSH band join (``lsh_near_dup_pairs(max_bucket_size=...)``).

The cap is the safety valve for the one residual quadratic term of
banded candidate generation: a cluster of near-identical vectors
shares every table's bucket, and within-bucket pair enumeration is
quadratic in bucket size. These tests pin the three contracts that
make the cap safe to reach for in production:

1. off (None) means OFF — bit-identical result to an effectively
   unbounded cap, and no Window node in the physical plan (the
   default path pays zero overhead for the feature's existence);
2. a cap smaller than a hot cluster removes exactly that cluster's
   pairs while pairs from small buckets survive untouched;
3. nonsensical caps (< 2: a bucket of 2 is one pair) are rejected
   loudly, not silently.
"""

from __future__ import annotations

import contextlib
import io

import pytest


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_DIM = 8


def _emb_corpus(spark):
    # 6 identical vectors (one doc embedded 6 times: every table's
    # bucket holds all 6) + one isolated near-identical pair + one
    # orthogonal singleton.
    hot = [1.0, 0.2, -0.3, 0.5, 0.0, 0.7, -0.1, 0.4]
    cold = [-0.6, 0.9, 0.1, -0.8, 0.3, -0.2, 0.5, 0.0]
    lone = [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]
    rows = [(i, hot) for i in range(6)] + [
        (100, cold),
        (101, [x * 1.001 for x in cold]),
        (200, lone),
    ]
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")


def _emb_pairs(spark, max_bucket_size):
    from mozart_etl_spark.operators import similarity as S

    out = S.lsh_near_dup_pairs(
        _emb_corpus(spark), _DIM, threshold=0.95, n_planes=4, n_tables=4,
        max_bucket_size=max_bucket_size,
    )
    return sorted((r["doc_a"], r["doc_b"], r["cosine"]) for r in out.collect())


def test_embedding_cap_off_identical_and_window_filter_free(spark):
    from mozart_etl_spark.operators import similarity as S

    assert _emb_pairs(spark, None) == _emb_pairs(spark, 10**6)
    df = _emb_corpus(spark)
    plan_off = _plan(S.lsh_near_dup_pairs(df, _DIM, n_planes=4, n_tables=4))
    plan_on = _plan(
        S.lsh_near_dup_pairs(df, _DIM, n_planes=4, n_tables=4, max_bucket_size=4)
    )
    # since r8 the cap's occupancy window runs BEFORE the banded
    # frame's localCheckpoint barrier (evaluated once into the
    # materialized blocks, not once per self-join side), so the final
    # plan must be Window-free whether the cap is on or off — a
    # Window showing up in either plan means the barrier moved and a
    # self-join side recomputes the count
    assert "Window" not in plan_off
    assert "Window" not in plan_on


def test_embedding_cap_drops_identical_vector_cluster(spark):
    uncapped = _emb_pairs(spark, None)
    assert {(a, b) for a, b, _ in uncapped if a < 6 and b < 6} == {
        (a, b) for a in range(6) for b in range(a + 1, 6)
    }  # C(6,2) = 15 identical-vector pairs at cosine 1.0
    assert any(a == 100 and b == 101 for a, b, _ in uncapped)

    capped = _emb_pairs(spark, 4)
    assert {(a, b) for a, b, _ in capped if a < 6 and b < 6} == set()
    assert capped == [t for t in uncapped if not (t[0] < 6 and t[1] < 6)]


def test_embedding_cap_below_two_rejected(spark):
    from mozart_etl_spark.operators import similarity as S

    with pytest.raises(ValueError, match="max_bucket_size"):
        S.lsh_near_dup_pairs(_emb_corpus(spark), _DIM, max_bucket_size=1)


def _components(pairs, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        parent[find(a)] = find(b)
    groups = {}
    for n in nodes:
        groups.setdefault(find(n), set()).add(n)
    return {frozenset(g) for g in groups.values() if len(g) > 1}


def test_collapse_identical_makes_the_cap_cluster_safe(spark):
    """The cap alone drops a hot identical-vector cluster entirely;
    with the staged collapse, the cluster survives as star edges and
    CONNECTED COMPONENTS equal the uncapped, uncollapsed baseline."""
    from mozart_etl_spark.operators import similarity as S

    df = _emb_corpus(spark)
    nodes = [r["vec_id"] for r in df.select("vec_id").collect()]
    baseline = _emb_pairs(spark, None)

    out = S.lsh_near_dup_pairs(
        df, _DIM, threshold=0.95, n_planes=4, n_tables=4,
        max_bucket_size=4, collapse_identical=True,
    )
    staged = sorted((r["doc_a"], r["doc_b"], r["cosine"]) for r in out.collect())

    stars = [(a, b, c) for a, b, c in staged if a == 0 and b < 6]
    assert stars == [(0, m, 1.0) for m in range(1, 6)]  # k-1, not C(k,2)
    assert any(a == 100 and b == 101 for a, b, _ in staged)
    assert _components(staged, nodes) == _components(baseline, nodes)


def test_collapse_skips_scaled_twins_and_zero_vectors(spark):
    """Byte-distinct vectors never collapse: a positively scaled twin
    still pairs through the band path at cosine 1.0; identical ZERO
    vectors get neither a star edge nor a pair (cosine undefined)."""
    from mozart_etl_spark.operators import similarity as S

    v = [0.3, -0.5, 0.8, 0.1, 0.0, 0.2, -0.4, 0.6]
    rows = [
        (1, v),
        (2, [x * 2.0 for x in v]),  # scaled twin: cosine 1.0, different bytes
        (10, [0.0] * 8),
        (11, [0.0] * 8),  # identical zero vectors
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    out = S.lsh_near_dup_pairs(
        df, _DIM, threshold=0.95, n_planes=4, n_tables=4, collapse_identical=True
    )
    got = sorted((r["doc_a"], r["doc_b"], r["cosine"]) for r in out.collect())
    assert got == [(1, 2, 1.0)]


def test_collapse_keeps_nan_vectors_singletons(spark):
    """r7 ADVICE regression: a NaN-containing vector has norm NaN, and
    Spark evaluates NaN > 0 as TRUE (NaN sorts greatest) — without the
    isnan guard, identical NaN vectors collapse and members emerge as
    star edges with cosine pinned to 1.0 though their true cosine is
    NaN. They must stay singletons: no star edge, no pair."""
    from mozart_etl_spark.operators import similarity as S

    v = [0.3, -0.5, 0.8, 0.1, 0.0, 0.2, -0.4, 0.6]
    nanv = [float("nan")] + [0.1] * 7
    rows = [
        (1, v),
        (2, v),        # identical finite vectors: one star edge (1, 2)
        (10, nanv),
        (11, nanv),    # identical NaN vectors: must NOT star-link
    ]
    df = spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")
    out = S.lsh_near_dup_pairs(
        df, _DIM, threshold=0.95, n_planes=4, n_tables=4, collapse_identical=True
    )
    got = sorted((r["doc_a"], r["doc_b"], r["cosine"]) for r in out.collect())
    assert got == [(1, 2, 1.0)]


def test_r8_candidate_config_matches_certified_on_driver_corpus(spark):
    """De-risks the r8 certification candidate named in COVERAGE.md:
    `collapse_identical=True, max_bucket_size=256` must be
    bit-identical to the certified r7 configuration on the exact
    corpus the registered query runs (driver embeddings + scaled
    twins) — the twins are byte-distinct (0.5x) so they never
    collapse, and no driver bucket approaches 256."""
    from pyspark.sql import functions as F

    from mozart_etl_spark.io import table
    from mozart_etl_spark.operators import similarity as S
    from mozart_etl_spark.querybank.llmops import _EMBEDDING_DIM

    emb = table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    twins = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x * F.lit(0.5)).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.unionByName(twins)

    def run(**kw):
        out = S.lsh_near_dup_pairs(
            corpus, dim=_EMBEDDING_DIM, threshold=0.95, n_planes="auto", **kw,
        )
        return sorted((r["doc_a"], r["doc_b"], r["cosine"]) for r in out.collect())

    certified = run()
    candidate = run(collapse_identical=True, max_bucket_size=256)
    assert len(certified) >= 20  # the injected twin floor
    assert candidate == certified
