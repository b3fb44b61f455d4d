"""NULL-id robustness for the Arrow multimodal kernels and the
embedding collapse representative (r14 advisor findings).

Arrow->pandas delivers a NULL id column as float64 NaN; a kernel that
does ``int(doc_id)`` / ``astype("int64")`` raises and splits the
engines by EXCEPTION where the SQL oracles just group the NULL. The
kernels now degrade to nullable Int64 (pd.NA), the same pattern the
simhash kernel uses. And the identical-vector collapse in
``lsh_near_dup_pairs`` must elect the MIN NON-NULL id as the group
representative (Spark default ASC is NULLS FIRST and ``first()``
keeps nulls — the naive window elected ``_rep_id=NULL`` and silently
dropped every star edge in the group via the NULL ``!=`` comparison),
matching the registered oracle's null-skipping ``min(vec_id)``.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mozart_etl_spark.operators import multimodal as mm_ops
from mozart_etl_spark.operators.similarity import lsh_near_dup_pairs

_DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType(), True), StructField("text", StringType(), True)]
)


def _docs(spark):
    rows = [(1, "alpha beta gamma " * 40), (None, "delta epsilon zeta " * 40), (3, None)]
    return spark.createDataFrame(rows, _DOC_SCHEMA)


def test_sample_frames_null_id_degrades_to_null_rows(spark):
    mm = mm_ops.attach_binary_payload(_docs(spark), kind="video")
    out = mm_ops.sample_frames(mm).collect()
    # the NULL-id row has a real payload: its frames come back with a
    # NULL id, not a crashed task; the NULL-text row emits zero frames
    null_rows = [r for r in out if r["doc_id"] is None]
    assert null_rows, "NULL-id document lost its frame rows"
    assert all(r["checksum"] is not None for r in null_rows)
    assert not [r for r in out if r["doc_id"] == 3]


def test_resize_grid_null_id_degrades_to_null_rows(spark):
    mm = mm_ops.attach_binary_payload(_docs(spark), kind="image")
    out = mm_ops.resize_payload_grid(mm).collect()
    assert len(out) == 3  # row-faithful, NULL id included
    null_rows = [r for r in out if r["doc_id"] is None]
    assert len(null_rows) == 1 and len(null_rows[0]["thumb"]) == mm_ops._GRID_DIMS


def test_extract_features_null_id_degrades_to_null_rows(spark):
    mm = mm_ops.attach_binary_payload(_docs(spark), kind="blob")
    out = mm_ops.extract_features(mm).collect()
    assert len(out) == 3
    assert sum(1 for r in out if r["doc_id"] is None) == 1


_VEC_SCHEMA = StructType(
    [
        StructField("vec_id", LongType(), True),
        StructField("embedding", ArrayType(DoubleType()), True),
    ]
)


def test_collapse_representative_skips_null_ids(spark):
    """An identical-vector group {NULL, 5, 9} must elect rep=5 (min
    non-null, as the oracle's ``min(vec_id)`` does) and keep the
    (5, 9) cosine-1.0 star edge; the NULL member contributes no edge
    (NULL != rep is NULL on both engines — shared corrupt-id policy)."""
    v = [1.0, 2.0, 3.0, 4.0]
    rows = [
        (5, v),
        (9, v),
        (None, v),
        (20, [4.0, 3.0, 2.0, 1.0]),
        (21, [-1.0, 5.0, 0.5, 2.0]),
    ]
    df = spark.createDataFrame(rows, _VEC_SCHEMA)
    pairs = lsh_near_dup_pairs(df, dim=4, threshold=0.95).collect()
    got = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in pairs}
    assert got.get((5, 9)) == 1.0, f"star edge lost under NULL group member: {got}"
    assert all(a is not None and b is not None for a, b in got)
