"""Behavioral pins for the deterministic hot-bucket cap and the
identical-vector collapse of the embedding LSH band join
(``lsh_near_dup_pairs``).

The cap is the safety valve for the one residual quadratic term of
banded candidate generation: a cluster of near-identical vectors
shares every table's bucket, and within-bucket pair enumeration is
quadratic in bucket size. The collapse keeps a cluster of IDENTICAL
vectors out of the buckets, so the cap never drops a whole identical
cluster. These tests pin:

1. a cap that does not bind changes nothing — the output equals an
   uncapped Python model of the join, and the cap's occupancy window
   costs no Window node in the final plan;
2. a cap smaller than a hot cluster removes exactly that cluster's
   pairs while pairs from small buckets survive untouched;
3. the collapse leaves connected components as the uncollapsed,
   uncapped model has them, and never links vectors whose cosine is
   undefined.

A test that needs a cap below the cluster size patches
``similarity._MAX_BUCKET_SIZE``.
"""

from __future__ import annotations

import contextlib
import io
import math
from collections import Counter

from mozart_etl_spark.operators import similarity as S


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_DIM = 8
_HOT = [1.0, 0.2, -0.3, 0.5, 0.0, 0.7, -0.1, 0.4]
_COLD = [-0.6, 0.9, 0.1, -0.8, 0.3, -0.2, 0.5, 0.0]
_LONE = [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]


def _rows(hot):
    # a 6-vector hot cluster (every table's bucket holds all 6) + one
    # isolated near-identical pair + one orthogonal singleton
    return [(i, v) for i, v in enumerate(hot)] + [
        (100, _COLD),
        (101, [x * 1.001 for x in _COLD]),
        (200, _LONE),
    ]


#: one document embedded 6 times
_IDENTICAL = _rows([_HOT] * 6)
#: 6 positively scaled copies of one vector: byte-distinct, so none
#: collapses, but every hyperplane sign agrees, so they share a bucket
#: in every table
_SCALED = _rows([[x * (1 + i / 8) for x in _HOT] for i in range(6)])


def _frame(spark, rows):
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")


def _pairs(out):
    return sorted((r["doc_a"], r["doc_b"], r["cosine"]) for r in out.collect())


def _emb_pairs(spark, rows):
    return _pairs(S.lsh_near_dup_pairs(_frame(spark, rows), _DIM, threshold=0.95))


def _dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):  # sequential left fold, as the engine's
        acc += x * y
    return acc


def _round4(x: float) -> float:
    # F.round(col, 4) + 0.0: HALF_UP, -0.0 normalized to 0.0
    import decimal

    q = decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.0001"), decimal.ROUND_HALF_UP)
    return float(q) + 0.0


def _reference_pairs(rows, threshold=0.95, *, collapse, cap):
    """Python model of the banded near-dup join over clean vectors:
    with ``collapse``, identical vectors fold into their smallest id
    and the others rejoin as cosine-1.0 star edges; the banding comes
    from :func:`auto_lsh_params` on the vectors left; a (table,
    bucket) with more than ``cap`` members (None: no cap) pairs
    nothing; a colliding pair is kept at cosine >= ``threshold``."""
    vecs = dict(rows)
    ids = sorted(vecs)
    out = {}
    if collapse:
        rep = {}
        for i in ids:
            rep.setdefault(tuple(vecs[i]), i)
        out = {(rep[tuple(vecs[i])], i): 1.0 for i in ids if rep[tuple(vecs[i])] != i}
        ids = sorted(set(rep.values()))
    n_planes, n_tables = S.auto_lsh_params(len(ids), threshold)
    planes = [S._hyperplanes(len(vecs[ids[0]]), n_planes, 42 + t) for t in range(n_tables)]
    bks = {
        i: [sum(1 << j for j, p in enumerate(ps) if _dot(vecs[i], p) >= 0) for ps in planes]
        for i in ids
    }
    size = Counter((t, b[t]) for b in bks.values() for t in range(n_tables))
    for ai, a in enumerate(ids):
        for b in ids[ai + 1 :]:
            if any(
                bks[a][t] == bks[b][t] and (cap is None or size[(t, bks[a][t])] <= cap)
                for t in range(n_tables)
            ):
                cos = _dot(vecs[a], vecs[b]) / (
                    math.sqrt(_dot(vecs[a], vecs[a])) * math.sqrt(_dot(vecs[b], vecs[b]))
                )
                if cos >= threshold:
                    out[(a, b)] = _round4(cos)
    return sorted((a, b, c) for (a, b), c in out.items())


def _hot_pairs(pairs):
    return {(a, b) for a, b, _ in pairs if a < 6 and b < 6}


def test_embedding_cap_off_identical_and_window_filter_free(spark):
    """A cap no bucket reaches returns the uncapped model's pairs, and
    the plan holds no Window: the cap's occupancy window runs BEFORE
    the banded frame's localCheckpoint barrier (evaluated once into
    the materialized blocks, not once per self-join side), so a Window
    in the final plan would mean the barrier moved and a self-join
    side recomputes the count."""
    for rows in (_IDENTICAL, _SCALED):
        assert _emb_pairs(spark, rows) == _reference_pairs(rows, collapse=True, cap=None)
    assert "Window" not in _plan(S.lsh_near_dup_pairs(_frame(spark, _SCALED), _DIM))


def test_embedding_cap_drops_hot_vector_cluster(spark, monkeypatch):
    uncapped = _emb_pairs(spark, _SCALED)
    assert _hot_pairs(uncapped) == {
        (a, b) for a in range(6) for b in range(a + 1, 6)
    }  # C(6,2) = 15 same-direction pairs at cosine 1.0
    assert any(a == 100 and b == 101 for a, b, _ in uncapped)

    monkeypatch.setattr(S, "_MAX_BUCKET_SIZE", 4)
    capped = _emb_pairs(spark, _SCALED)
    assert _hot_pairs(capped) == set()
    assert capped == [t for t in uncapped if not (t[0] < 6 and t[1] < 6)]
    assert capped == _reference_pairs(_SCALED, collapse=True, cap=4)


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


def test_collapse_identical_makes_the_cap_cluster_safe(spark, monkeypatch):
    """A cap alone drops a hot identical-vector cluster entirely (the
    uncollapsed model shows it); with the collapse, the cluster
    survives as star edges and CONNECTED COMPONENTS equal the
    uncapped, uncollapsed model's."""
    nodes = [i for i, _ in _IDENTICAL]
    baseline = _reference_pairs(_IDENTICAL, collapse=False, cap=None)
    assert _hot_pairs(baseline) == {(a, b) for a in range(6) for b in range(a + 1, 6)}
    assert _hot_pairs(_reference_pairs(_IDENTICAL, collapse=False, cap=4)) == set()

    monkeypatch.setattr(S, "_MAX_BUCKET_SIZE", 4)
    staged = _emb_pairs(spark, _IDENTICAL)

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
    out = S.lsh_near_dup_pairs(df, _DIM, threshold=0.95)
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
    out = S.lsh_near_dup_pairs(df, _DIM, threshold=0.95)
    got = sorted((r["doc_a"], r["doc_b"], r["cosine"]) for r in out.collect())
    assert got == [(1, 2, 1.0)]


def test_r8_candidate_config_matches_certified_on_driver_corpus(spark):
    """On the exact corpus the registered query runs (driver
    embeddings + scaled twins), the collapsed, capped join is
    bit-identical to the uncollapsed, uncapped model — the
    configuration certified before the collapse and the cap: the twins
    are byte-distinct (0.5x) so they never collapse, and no driver
    bucket approaches the cap."""
    from pyspark.sql import functions as F

    from mozart_etl_spark.io import table
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
    rows = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in corpus.collect()]
    out = _pairs(S.lsh_near_dup_pairs(corpus, dim=_EMBEDDING_DIM, threshold=0.95))
    certified = _reference_pairs(rows, collapse=False, cap=None)
    assert len(certified) >= 20  # the injected twin floor
    assert out == certified
