"""Differential property tests for the approximate KNN operators.

``ivf_knn`` and ``lsh_knn`` were pinned by recall floors only. These
tests pin their full semantics — centroid build, probe selection,
bucket collision, exact re-scoring, deterministic top-k — against an
independent pure-Python replica.

Exactness trick: vectors are small INTEGERS (as doubles). Integer
sums are exact in IEEE double, so centroids (exact sum / count), dot
products (sequential fold on both sides), norms, and cosines are
bit-identical between the JVM expressions and the Python replica —
the comparison is exact equality of the rounded output, no
tolerance. Zero-norm vectors are excluded by construction (their
NULL-cosine ordering is covered by the variant sweep instead).
"""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from mozart_etl_spark.operators import similarity as S

_DIM = 4

# components 1..4: never a zero vector, always exact in double
_vec = st.lists(
    st.integers(min_value=1, max_value=4), min_size=_DIM, max_size=_DIM
)


def _dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _cos(a, b):
    return _dot(a, b) / (math.sqrt(_dot(a, a)) * math.sqrt(_dot(b, b)))


def _round4(x: float) -> float:
    # mirror F.round(col, 4) + 0.0: HALF_UP on the positive values
    # used here, and -0.0 normalized to 0.0
    import decimal

    return float(
        decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.0001"), rounding=decimal.ROUND_HALF_UP)
    ) + 0.0


def _topk(scored, k):
    """scored: list of (neighbor_id, cos). Deterministic top-k by
    (desc cos, asc id)."""
    return sorted(scored, key=lambda t: (-t[1], t[0]))[:k]


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.tuples(_vec, st.sampled_from(["a", "b", "c"])), min_size=2, max_size=10),
    st.integers(min_value=1, max_value=3),
    st.integers(min_value=1, max_value=2),
)
def test_ivf_knn_matches_python_model(spark, rows, k, nprobe):
    cands = spark.createDataFrame(
        [(i, [float(x) for x in v], lab) for i, (v, lab) in enumerate(rows)],
        "vec_id INT, embedding ARRAY<DOUBLE>, label STRING",
    )
    queries = cands.filter("vec_id < 3")
    got = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in S.ivf_knn(queries, cands, k=k, nprobe=nprobe).collect()
    }

    # python model ------------------------------------------------------
    cells: dict[str, list[int]] = {}
    for i, (v, lab) in enumerate(rows):
        cells.setdefault(lab, []).append(i)
    centroids = {
        lab: [
            sum(rows[i][0][d] for i in ids) / len(ids)  # exact sum, one divide
            for d in range(_DIM)
        ]
        for lab, ids in cells.items()
    }
    want = {}
    for qi in range(min(3, len(rows))):
        qv = rows[qi][0]
        ranked_cells = sorted(
            ((lab, _cos(qv, c)) for lab, c in centroids.items()),
            key=lambda t: (-t[1], t[0]),
        )[:nprobe]
        scored = [
            (ci, _cos(qv, rows[ci][0]))
            for lab, _ in ranked_cells
            for ci in cells[lab]
            if ci != qi
        ]
        for ci, cos in _topk(scored, k):
            want[(qi, ci)] = _round4(cos)
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(_vec, min_size=2, max_size=10),
    st.integers(min_value=1, max_value=2),
    st.integers(min_value=0, max_value=2),
)
def test_lsh_knn_matches_python_model(spark, vecs, k, seed):
    n_planes, n_tables = S._KNN_PLANES, S._KNN_TABLES
    cands = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    queries = cands.filter("vec_id < 3")
    got = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in S.lsh_knn(queries, cands, _DIM, k=k, seed=seed).collect()
    }

    # python model ------------------------------------------------------
    def buckets(v):
        out = []
        for t in range(n_tables):
            planes = S._hyperplanes(_DIM, n_planes, seed + t)
            b = 0
            for j, p in enumerate(planes):
                if _dot(v, p) >= 0:
                    b |= 1 << j
            out.append(b)
        return out

    bks = [buckets(v) for v in vecs]
    want = {}
    for qi in range(min(3, len(vecs))):
        cand_ids = {
            ci
            for ci in range(len(vecs))
            if ci != qi and any(bks[ci][t] == bks[qi][t] for t in range(n_tables))
        }
        scored = [(ci, _cos(vecs[qi], vecs[ci])) for ci in sorted(cand_ids)]
        for ci, cos in _topk(scored, k):
            want[(qi, ci)] = _round4(cos)
    assert got == want


@settings(max_examples=8, deadline=None)
@given(st.lists(_vec, min_size=2, max_size=10), st.integers(min_value=0, max_value=2))
def test_lsh_near_dup_pairs_match_python_model(spark, vecs, seed):
    """The embedding near-dup operator end-to-end: identical-vector
    collapse -> banding resolved from the representatives' count ->
    multi-table bucket collision -> exact cosine -> threshold.
    Threshold 0.9 keeps the check non-vacuous (all-positive integer
    vectors are often similar). The bucket cap cannot bind on ten
    vectors."""
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in S.lsh_near_dup_pairs(df, _DIM, threshold=0.9, seed=seed).collect()
    }

    # identical vectors collapse to their smallest id; every other
    # member rejoins as a cosine-1.0 star edge
    rep = {}
    for i, v in enumerate(vecs):
        rep.setdefault(tuple(v), i)
    want = {(rep[tuple(v)], i): 1.0 for i, v in enumerate(vecs) if rep[tuple(v)] != i}
    reps = sorted(set(rep.values()))
    n_planes, n_tables = S.auto_lsh_params(len(reps), 0.9)

    def buckets(v):
        out = []
        for t in range(n_tables):
            planes = S._hyperplanes(_DIM, n_planes, seed + t)
            b = 0
            for j, p in enumerate(planes):
                if _dot(v, p) >= 0:
                    b |= 1 << j
            out.append(b)
        return out

    bks = {i: buckets(vecs[i]) for i in reps}
    for ai, a in enumerate(reps):
        for b in reps[ai + 1 :]:
            if any(bks[a][t] == bks[b][t] for t in range(n_tables)):
                cos = _cos(vecs[a], vecs[b])
                if cos >= 0.9:
                    want[(a, b)] = _round4(cos)
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.text(alphabet="ab x", min_size=0, max_size=60), min_size=1, max_size=6),
    st.integers(min_value=0, max_value=2),
)
def test_minhash_lsh_pairs_match_python_model(spark, texts, seed):
    """The MinHash-LSH operator end-to-end: banded signature collision
    -> estimated Jaccard. The replica compares signature band SLICES
    directly — band-hash equality is slice equality up to a 60-bit
    md5-prefix collision, which is unreachable on 8-element bands."""
    from mozart_etl_spark.operators import dedup as D

    n, num_perm, bands = 2, 8, 4
    r = num_perm // bands
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    got = {
        (row["doc_a"], row["doc_b"]): row["est_jaccard"]
        for row in D.minhash_lsh_pairs(
            df, n=n, num_perm=num_perm, bands=bands, seed=seed
        ).collect()
    }

    sigs = {
        row["doc_id"]: list(row["sig"])
        for row in D.minhash_signatures(
            df, n=n, num_perm=num_perm, seed=seed, hash_fn="portable_md5_60"
        ).collect()
    }  # the signature fold itself is pinned bit-for-bit elsewhere
    want = {}
    ids = sorted(sigs)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if any(
                sigs[a][t * r : (t + 1) * r] == sigs[b][t * r : (t + 1) * r]
                for t in range(bands)
            ):
                matches = sum(1 for x, y in zip(sigs[a], sigs[b]) if x == y)
                want[(a, b)] = _round4(matches / num_perm)
    assert got == want


def test_nan_poisoned_vectors_excluded_from_knn(spark):
    """NaN-vector policy pin (r9): both engines sort NaN above every
    real number, so an unguarded corrupt candidate would be EVERY
    query's #1 neighbor and a corrupt query would rank its probes by
    NaN. The scorers must drop NaN-poisoned vectors at entry — from
    the top-k, from LSH banding, and from IVF centroids/probes —
    while NULL vectors keep their (excluded-by-NULL-semantics)
    behavior."""
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.9, 0.1], "a"),
        (2, [float("nan"), 1.0], "a"),   # poisoned candidate
        (3, [0.0, 1.0], "b"),
        (4, None, "b"),                   # NULL vector
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING")
    queries = df.filter("vec_id = 0")

    brute = S.brute_force_knn(queries, df, k=2).collect()
    got = [(r["query_id"], r["neighbor_id"]) for r in brute]
    assert (0, 2) not in got, "NaN candidate must never appear in top-k"
    assert got[0] == (0, 1), "real nearest neighbor must win"

    lsh = S.lsh_knn(queries, df, dim=2, k=2)
    assert all(r["neighbor_id"] != 2 for r in lsh.collect())

    ivf = S.ivf_knn(queries, df, k=2, nprobe=2)
    assert all(r["neighbor_id"] != 2 for r in ivf.collect())

    # poisoned QUERY produces no output rows at all
    assert S.brute_force_knn(df.filter("vec_id = 2"), df, k=2).count() == 0

    # centroid of cell 'a' is the mean of the two CLEAN vectors only
    cents = {r["cell"]: r["centroid"] for r in S.ivf_centroids(df).collect()}
    assert cents["a"] == [0.95, 0.05]


def test_nan_poisoned_vector_quantizes_to_null_marked_row(spark):
    """NaN-vector policy pin (r9): quantize emits the NULL-marked row
    (NULL scale, NULL qvec) a NULL input gets — Spark's non-ANSI
    NaN→int cast would emit garbage zeros, a SQL engine errors."""
    rows = [
        (0, [2.0, -4.0]),
        (1, [float("nan"), 1.0]),
        (2, None),
        (3, [0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {r["vec_id"]: (r["scale"], r["qvec"]) for r in S.quantize_embeddings(df).collect()}
    assert got[0][0] is not None and got[0][1] == [64, -127]
    assert got[1] == (None, None)
    assert got[2] == (None, None)
    assert got[3] == (None, None)   # zero vector: nothing to quantize


def test_inf_poisoned_vectors_excluded_from_knn(spark):
    """±Inf-axis policy pin (r10): an Inf component passes any
    NaN-only component guard, makes the norm +Inf (Inf² = Inf for
    either sign), and first turns into NaN at the cosine division
    (Inf/Inf) — i.e. DOWNSTREAM of the entry checks, where it inherits
    the full NaN outranking pathology in both engines. Corrupt-vector
    policy folds ±Inf into the same entry-exclusion class as NaN."""
    inf = float("inf")
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.9, 0.1], "a"),
        (2, [inf, 1.0], "a"),    # +Inf-poisoned candidate
        (3, [0.0, 1.0], "b"),
        (4, [1.0, -inf], "b"),   # -Inf-poisoned candidate
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING")
    queries = df.filter("vec_id = 0")

    brute = S.brute_force_knn(queries, df, k=3).collect()
    got = [(r["query_id"], r["neighbor_id"]) for r in brute]
    assert all(n not in (2, 4) for _, n in got), "Inf candidates must never appear in top-k"
    assert got[0] == (0, 1), "real nearest neighbor must win"

    lsh = S.lsh_knn(queries, df, dim=2, k=3)
    assert all(r["neighbor_id"] not in (2, 4) for r in lsh.collect())

    ivf = S.ivf_knn(queries, df, k=3, nprobe=2)
    assert all(r["neighbor_id"] not in (2, 4) for r in ivf.collect())

    # poisoned QUERY produces no output rows at all
    assert S.brute_force_knn(df.filter("vec_id = 2"), df, k=2).count() == 0
    assert S.brute_force_knn(df.filter("vec_id = 4"), df, k=2).count() == 0

    # centroids exclude Inf vectors exactly as they exclude NaN ones
    cents = {r["cell"]: r["centroid"] for r in S.ivf_centroids(df).collect()}
    assert cents["a"] == [0.95, 0.05]
    assert cents["b"] == [0.0, 1.0]


def test_inf_poisoned_vector_quantizes_to_null_marked_row(spark):
    """±Inf-axis pin (r10): Inf is the sneaky quantize case — scale =
    Inf/127 = Inf is a perfectly castable number, every finite
    quotient x/Inf rounds to 0 and Inf/Inf = NaN casts to 0, so an
    unguarded Inf vector emits a row of plausible zeros with an
    unusable scale IN BOTH ENGINES (no error anywhere). Policy: the
    same NULL-marked row as NaN/NULL inputs."""
    inf = float("inf")
    rows = [
        (0, [2.0, -4.0]),
        (1, [inf, 1.0]),
        (2, [1.0, -inf]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {r["vec_id"]: (r["scale"], r["qvec"]) for r in S.quantize_embeddings(df).collect()}
    assert got[0][0] is not None and got[0][1] == [64, -127]
    assert got[1] == (None, None)
    assert got[2] == (None, None)


def test_inf_vectors_stay_singleton_in_lsh_near_dup(spark):
    """±Inf-axis pin (r10) for the near-dup chain: Inf-IDENTICAL
    vectors must NOT collapse into cosine-1.0 star edges (their true
    pairwise cosine is Inf/Inf = NaN, which supports no edge), and no
    Inf vector may emit a pair through the band path (its pair scores
    are NaN or 0, never >= threshold)."""
    inf = float("inf")
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),          # identical clean pair -> star edge
        (2, [inf, 1.0]),
        (3, [inf, 1.0]),          # identical Inf pair -> NO edge
        (4, [float("nan"), 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    pairs = S.lsh_near_dup_pairs(df, dim=2, threshold=0.95).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in pairs}
    assert (0, 1) in got, "clean identical pair must survive as the star edge"
    assert all(a not in (2, 3, 4) and b not in (2, 3, 4) for a, b in got), (
        "corrupt vectors must never appear in any near-dup pair"
    )


def test_centroids_keep_rows_with_null_elements(spark):
    """Advisor pin (r10): a vector containing a NULL ELEMENT (no
    NaN/Inf) is not corruption — exists() evaluates NULL on it, and
    without the coalesce(…, True) wrapper ivf_centroids silently
    dropped the whole row from the mean while the oracle's avg skips
    only the NULL elements. The row must contribute its non-NULL
    dimensions."""
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [None, 1.0], "a"),    # NULL element: dim 1 contributes
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING")
    cents = {r["cell"]: r["centroid"] for r in S.ivf_centroids(df).collect()}
    assert cents["a"] == [1.0, 0.5]


_qvec = st.one_of(
    st.none(),
    st.lists(
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False),
            st.sampled_from(
                [0.0, -0.0, 0.5, -0.5, 1.5, -2.5, float("nan"), float("inf"), float("-inf"),
                 3.0e38, 1e200, -1e200, 1.3407807929942596e154]
            ),
        ),
        min_size=0,
        max_size=9,
    ),
)


_OVERFLOW = S._OVERFLOW


def _quantize_reference(df, vec_col="embedding", id_col="vec_id", bits=8):
    """The SQL formulation of ``S.quantize_embeddings`` as
    higher-order-function folds (one ``aggregate`` for max|x|, one
    ``transform`` for the array, one ``aggregate`` per checksum): the
    engine's former JVM fold, kept here as the kernel's reference."""
    qmax = 2 ** (bits - 1) - 1
    vec = F.col(vec_col)
    max_abs = F.aggregate(
        vec, F.lit(0.0).cast("double"), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    # nullif wraps the QUOTIENT, not max_abs: a subnormal max_abs
    # (< ~3.2e-321) divided by qmax underflows to exactly 0.0, and a
    # 0.0 scale reaching the transform's division is DIVIDE_BY_ZERO
    # under ANSI mode (and garbage zeros otherwise) — the quotient
    # form NULL-marks both the zero-vector and the underflow class
    scale = F.when(
        ~F.isnan(max_abs) & (max_abs <= F.lit(_OVERFLOW)),
        F.nullif(max_abs / F.lit(float(qmax)), F.lit(0.0)),
    )
    qvec = F.when(
        scale.isNotNull(),
        F.transform(vec, lambda x: F.round(x.cast("double") / scale).cast("int")),
    )
    zero = F.lit(0).cast("bigint")
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        qvec.alias("qvec"),
        F.aggregate(qvec, zero, lambda a, x: a + x.cast("bigint")).alias("q_sum"),
        F.aggregate(qvec, zero, lambda a, x: a + F.abs(x.cast("bigint"))).alias("q_l1"),
    )


@settings(max_examples=6, deadline=None)
@given(st.lists(_qvec, min_size=1, max_size=12))
def test_quantize_arrow_matches_jvm_bit_identical(spark, vecs):
    """quantize_embeddings (the fused numpy kernel that replaced the
    r9 three-interpreted-folds-per-row shape, AB_r10) vs
    :func:`_quantize_reference` (the HOF folds): BIT-identical on
    arbitrary vectors — scale as raw IEEE doubles, qvec arrays, both
    integer checksums — across NULL vectors, empty vectors, zero
    vectors, NaN/±Inf corruption, exact .5 rounding boundaries and
    negative-zero results."""
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    def run(quantize):
        out = quantize(df).collect()
        return {
            r["vec_id"]: (
                None if r["scale"] is None else r["scale"].hex(),
                r["qvec"],
                r["q_sum"],
                r["q_l1"],
            )
            for r in out
        }

    assert run(S.quantize_embeddings) == run(_quantize_reference)


def test_finite_overflow_vectors_are_corrupt_everywhere(spark):
    """Finite-overflow axis pin (r10): a component with |x| >
    sqrt(DBL_MAX) ~ 1.34e154 is FINITE — it passes every isnan/isinf
    test in BOTH engines — but its square alone overflows the norm
    fold to +Inf, reproducing the Inf pathology one more step removed
    (cosine NaN as a query, fake-0 scores as a candidate, a
    ±1e199-scale poisoned centroid). Before the r10 fix the
    component-form guards KEPT such vectors while brute_force_knn's
    norm-form guard dropped them — a live cross-engine AND
    cross-operator divergence (demonstrated on 2026-08-15:
    ivf_knn surfaced the 1e200 vector as a neighbor with fake cosine
    0.0 and its cell centroid came back 3.3e199). The class is
    unreachable from the float32 driver corpus, so the pin lives
    here on array<double> frames. All scorers must now agree: the
    overflow vector never scores, never routes, never appears."""
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.9, 0.1], "a"),
        (2, [1e200, 1.0], "a"),    # finite-overflow component
        (3, [0.0, 1.0], "b"),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING")
    q = df.filter("vec_id = 0")

    brute = S.brute_force_knn(q, df, k=3).collect()
    assert all(r["neighbor_id"] != 2 for r in brute)
    lsh = S.lsh_knn(q, df, dim=2, k=3).collect()
    assert all(r["neighbor_id"] != 2 for r in lsh)
    ivf = S.ivf_knn(q, df, k=3, nprobe=2).collect()
    assert all(r["neighbor_id"] != 2 for r in ivf), "overflow vector surfaced in IVF"

    # overflow QUERY emits zero rows, on every scorer
    assert S.brute_force_knn(df.filter("vec_id = 2"), df, k=2).count() == 0
    assert S.ivf_knn(df.filter("vec_id = 2"), df, k=2).count() == 0

    # centroid of cell 'a' is the mean of the two CLEAN vectors only
    cents = {r["cell"]: r["centroid"] for r in S.ivf_centroids(df).collect()}
    assert cents["a"] == [0.95, 0.05], f"poisoned centroid: {cents['a']}"

    # quantize: same NULL-marked row as NaN/Inf/NULL inputs — a scale
    # of 7.9e197 is castable but the store row is unusable garbage
    qdf = spark.createDataFrame(
        [(0, [2.0, -4.0]), (1, [1e200, 1.0])], "vec_id LONG, embedding ARRAY<DOUBLE>"
    )
    got = {r["vec_id"]: (r["scale"], r["qvec"]) for r in S.quantize_embeddings(qdf).collect()}
    assert got[0][1] == [64, -127]
    assert got[1] == (None, None)


def test_accumulation_overflow_vectors_excluded_from_ivf_lsh(spark):
    """Advisor pin (r11): the residual rung of the IEEE ladder — a
    vector whose every component is finite and <= sqrt(DBL_MAX) but
    whose squared SUM overflows (here two components of 1.3e154:
    each square ~1.69e308 is finite, their sum is +Inf). The
    component-form entry guard cannot see it, and its score against
    a clean query is finite/Inf = 0.0 — a FAKE FINITE score that
    _score_is_sane cannot reject, so before the r11 fix it could
    outrank genuinely negative-cosine neighbors in ivf_knn/lsh_knn.
    The norm-form guard (which brute_force_knn always had) now rides
    the norm projection in all three scorers."""
    ov = [1.3e154, 1.3e154]
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [-1.0, 0.0], "a"),   # genuine neighbor, cosine -1
        (2, ov, "a"),            # accumulation-overflow candidate
        (3, [0.0, 1.0], "b"),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING")
    q = df.filter("vec_id = 0")

    for label, out in (
        ("brute", S.brute_force_knn(q, df, k=1).collect()),
        ("lsh", S.lsh_knn(q, df, dim=2, k=1).collect()),
        ("ivf", S.ivf_knn(q, df, k=1, nprobe=2).collect()),
    ):
        assert all(r["neighbor_id"] != 2 for r in out), (
            f"{label}: fake-finite-0 overflow candidate occupied a top-k slot"
        )

    # overflow QUERY emits zero rows on every scorer
    assert S.ivf_knn(df.filter("vec_id = 2"), df, k=2).count() == 0
    assert S.lsh_knn(df.filter("vec_id = 2"), df, dim=2, k=2).count() == 0


def test_denormal_vector_quantizes_to_null_marked_row(spark):
    """Advisor pin (r11): scale UNDERFLOW is one more NULL-marked
    class. For max|x| < ~3.2e-321 the scale max|x|/127 underflows to
    exactly 0.0 — a mask on max_abs != 0 passes it and emits the
    plausible-zeros-with-unusable-scale garbage row the Inf guard
    exists for. The kernel must emit the NULL-marked row; a denormal
    max-abs whose scale is still a NONZERO subnormal keeps quantizing
    normally."""
    tiny = 5e-324                     # min subnormal m: m/127 -> 0.0
    ok_denormal = 254 * 5e-324        # 254m/127 = 2m exactly: scale > 0
    rows = [
        (0, [2.0, -4.0]),
        (1, [tiny, 0.0]),
        (2, [ok_denormal, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")

    got = {
        r["vec_id"]: (r["scale"], r["qvec"], r["q_sum"], r["q_l1"])
        for r in S.quantize_embeddings(df).collect()
    }
    assert got[0][1] == [64, -127]
    assert got[1] == (None, None, None, None), (
        f"underflowed scale must NULL-mark the row, got {got[1]}"
    )
    assert got[2][0] is not None and got[2][0] > 0.0
    assert got[2][1] == [127, 0]


def test_legal_extreme_vectors_stay_scored(spark):
    """Over-exclusion guard (r10): FLT_MAX-scale components (~3e38,
    the largest the float32 corpus can carry; double square 9e76 is
    comfortably finite) are NOT corrupt — they must keep scoring,
    routing and quantizing normally. The edges profile injects this
    class (1-in-131 vectors); this pins the operator-level contract."""
    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [3.0e38, 1.0], "a"),   # legal extreme: huge but clean
        (2, [0.0, 1.0], "b"),
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING")
    q = df.filter("vec_id = 0")

    brute = {r["neighbor_id"]: r["cosine"] for r in S.brute_force_knn(q, df, k=3).collect()}
    assert 1 in brute and brute[1] is not None and math.isfinite(brute[1])

    # extreme QUERY scores against everyone
    assert S.brute_force_knn(df.filter("vec_id = 1"), df, k=2).count() == 2

    cents = {r["cell"]: r["centroid"] for r in S.ivf_centroids(df).collect()}
    assert all(math.isfinite(x) for x in cents["a"]), f"over-excluded or overflowed: {cents['a']}"
    assert cents["a"][0] == 1.5e38  # mean of 1.0 and 3e38, rounded by avg

    got = {r["vec_id"]: r for r in S.quantize_embeddings(df).collect()}
    assert got[1]["scale"] is not None and math.isfinite(got[1]["scale"])
    assert got[1]["qvec"] == [127, 0]
    assert got[1]["q_sum"] == 127 and got[1]["q_l1"] == 127
