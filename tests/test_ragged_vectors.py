"""Ragged-dimension embedding axis (r12): the SHAPE class of the
corrupt-vector ladder — wrong-length vectors from a truncated write,
a mixed model version, or an empty-but-not-NULL list.

Why the value guards can't see it: a truncated vector has a clean
finite norm, so every NaN/Inf/overflow detector passes it. Yet the
engines don't even agree on HOW cross-vector math fails on one:

- Spark's ``zip_with`` dot NULL-pads the short side → NULL score;
- DuckDB's ``list_dot_product`` ERRORS the whole query on a length
  mismatch (measured: InvalidInputException "list dimensions must be
  equal"; this build even INTERNAL-errors on two EMPTY lists);
- the lsh_banded kernel, unguarded, raises ValueError on the whole
  query.

Contract (mirrors the value classes): wrong-length vectors are
entry-EXCLUDED wherever a model dimension is declared
(similarity._dim_ok / drop_ragged_vectors); the per-row quantize
store pass stays row-faithful (no cross-row math — a ragged row
quantizes against its own length identically in both engines, and a
storage pass must never silently drop an id). Oracle mirror:
``coalesce(len(v) = dim, TRUE)``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mozart_etl_spark.operators import similarity as S


DIM = 4


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>, label INT")


@pytest.fixture(scope="module")
def frame(spark):
    # vec 1-4: clean dim-4; vec 10: truncated (2); vec 11: extended
    # (6); vec 12: empty; vec 13: NULL
    return _emb(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [0.9, 0.1, 0.0, 0.0], 0),
            (3, [0.0, 1.0, 0.0, 0.0], 1),
            (4, [0.0, 0.9, 0.1, 0.0], 1),
            (10, [1.0, 0.0], 0),
            (11, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0], 1),
            (12, [], 0),
            (13, None, 1),
        ],
    )


def test_brute_force_dim_guard_excludes_ragged_both_sides(frame):
    out = S.brute_force_knn(frame, frame, k=3, dim=DIM).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert ids == {1, 2, 3, 4}
    # a ragged QUERY without the guard emits k NULL-cosine rows —
    # the Spark half of the divergence (DuckDB errors instead)
    unguarded = S.brute_force_knn(frame, frame, k=3).collect()
    ragged_rows = [r for r in unguarded if r.query_id == 10]
    assert ragged_rows and all(r.cosine is None for r in ragged_rows)


def test_lsh_banded_impls_agree_on_ragged(frame):
    """Before r12 the kernel raised on a ragged vector; it is now
    excluded at entry, so the query runs and the ragged and empty
    vectors are simply absent."""
    kw = dict(n_planes=4, n_tables=2, seed=7)
    out = S.lsh_banded(frame, DIM, "id", "v", **kw)
    a = sorted((r.id, r.table_id, r.bucket) for r in out.collect())
    assert {t[0] for t in a} == {1, 2, 3, 4, 13}  # NULL vec kept (NULL policy), ragged/empty gone
    assert [t[2] for t in a if t[0] == 13] == [0, 0]  # NULL vec: all-zero buckets


def test_lsh_knn_never_scores_ragged(frame):
    out = S.lsh_knn(frame, frame, dim=DIM, k=3).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert ids <= {1, 2, 3, 4}


def test_ivf_excludes_ragged_from_centroids_and_scoring(frame):
    cents = {r.cell: r.centroid for r in S.ivf_centroids(frame, dim=DIM).collect()}
    assert all(len(c) == DIM for c in cents.values())
    # cell 1 without the guard would average vec 11's six dims in —
    # dims 4 and 5 would appear, and dim 0 would gain a 1.0
    assert cents[1][0] == pytest.approx(0.0)
    out = S.ivf_knn(frame, frame, k=3, nprobe=1, dim=DIM).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert ids <= {1, 2, 3, 4}


def test_near_dup_keeps_identical_ragged_singleton(spark):
    """Two bit-identical TRUNCATED vectors must NOT collapse into a
    cosine-1.0 star edge: the band path never supports a pair for
    them (lsh_banded excludes ragged), so the collapse fingerprint
    keys them __solo__ exactly like zero-norm/NaN/Inf vectors."""
    df = _emb(
        spark,
        [
            (1, [1.0, 0.0, 0.0, 0.0], 0),
            (2, [1.0, 0.0, 0.0, 0.0], 0),
            (10, [0.5, 0.5], 0),
            (11, [0.5, 0.5], 0),
        ],
    )
    out = S.lsh_near_dup_pairs(df, dim=DIM, threshold=0.9).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    assert (1, 2) in pairs
    assert all(10 not in p and 11 not in p for p in pairs)


def test_quantize_is_row_faithful_on_ragged(frame):
    """The store pass NEVER drops an id for shape: a ragged row
    quantizes against its own length (per-row reduceat segments), and
    the empty vector gets the NULL-marked row."""
    rows = {r.vec_id: r for r in S.quantize_embeddings(frame).collect()}
    assert set(rows) == {1, 2, 3, 4, 10, 11, 12, 13}
    assert len(rows[10].qvec) == 2 and len(rows[11].qvec) == 6
    assert rows[10].scale == pytest.approx(1.0 / 127)
    assert rows[12].scale is None and rows[12].qvec is None
    assert rows[13].scale is None and rows[13].qvec is None


def test_dim_ok_null_vector_passes():
    """NULL vectors are the NULL policy's problem, not the shape
    guard's — _dim_ok must pass them through (TRUE), conf-independent
    of spark.sql.legacy.sizeOfNull."""
    from pyspark.sql import Row

    # exercised via drop_ragged_vectors on a frame with only NULL vec
    # (covered in test_quantize fixture rows too); here just the
    # expression shape: when(isNull, True)
    col = S._dim_ok(F.col("v"), 4)
    assert "CASE WHEN" in str(col._jc) or "when" in str(col._jc).lower()
