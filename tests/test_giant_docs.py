"""Giant-document axis (r12): single documents orders of magnitude
above the corpus median — the multi-hundred-MB crawl page every real
ingest eventually ships.

Measured terrain (scout at 2/16/64 MB per doc, local[32]):

- The Arrow plumbing itself is SAFE BY DEFAULT in Spark 4.1:
  ``spark.sql.execution.arrow.maxBytesPerBatch`` (64 MB default,
  pinned in session.RUNTIME_CONFS) slices batches by estimated bytes,
  so a giant row forms its own batch (a single row cannot split —
  max batch ≈ cap + one document); with 32-bit Arrow string offsets
  (useLargeVarTypes=false) a batch's string column caps at 2 GiB, so
  the per-document ceiling is ~1.9 GiB minus the batch cap — above
  the 2 GiB JVM byte-array limit a document cannot reach anyway.
  Policy: documents ≤ 1 GiB flow through every kernel; pre-chunk
  (chunk_documents) anything bigger at ingest.
- First to DEGRADE were the per-row fold kernels, all fixed and
  bounded here:
  - minhash arrow fold: (n_shingles, num_perm) matrix ≈ 85 B per
    text byte — 149 s / multi-GB temp at 16 MB; now sliced at
    _FOLD_SLICE with a running min (exact — min is associative).
  - simhash arrow fold: (n_tokens, 64) bit matrix, 292 s at 16 MB
    boilerplate; now sliced with per-slice integer vote sums (exact).
  - multimodal _fake_features: pure-Python per-byte loop, 153 s at
    16 MB; now exact numpy int64 column sums (bit-identical values).
- Linear-but-single-task costs remain by design: one document's
  shingle explosion/distinct and HOF folds run in one task (~linear
  seconds per 10 MB) — parallelism across documents, not within one.
  The scale path for million-shingle docs is MinHash-LSH candidates
  verified by jaccard_verify_pairs (a df cap does not bind at sf1.0),
  plus pre-chunking.

The edges profile injects two ~2 MB documents (unique-vocab id 29,
boilerplate id 38) so every sweep measures all 105 queries against
outsized docs end-to-end in both engines.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mozart_etl_spark.operators import corpus as CP
from mozart_etl_spark.operators import dedup as DD
from mozart_etl_spark.operators import multimodal as MM
from mozart_etl_spark.operators import text as TX


def _giant_unique(n_words: int) -> str:
    return " ".join(f"w{(j * 2654435761) % 4093}x{j % 97}q{j}" for j in range(n_words))


@pytest.fixture(scope="module")
def giant_frame(spark):
    # ~1.6 MB unique-vocab (140k words > _FOLD_SLICE shingles) and
    # ~1 MB boilerplate, plus normal docs
    rows = [(i, f"small doc number {i} with a few words") for i in range(50)]
    rows.append((900, _giant_unique(140_000)))
    rows.append((901, "the quick brown fox jumps over the lazy dog " * 23_000))
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_minhash_fold_slicing_bit_identical(spark, monkeypatch):
    """Slicing the (n_shingles, num_perm) multiply cannot change one
    bit: a 7-shingle slice forces dozens of slices on ordinary docs
    and must equal the unsliced fold exactly. The kernel captures
    _FOLD_SLICE on the driver when the frame is built, so patching
    the constant reaches the workers."""
    df = spark.createDataFrame(
        [(i, f"some text body number {i} " * 20) for i in range(30)],
        "doc_id BIGINT, text STRING",
    )
    whole = {r.doc_id: list(r.sig) for r in DD.minhash_signatures(df).collect()}
    monkeypatch.setattr(DD, "_FOLD_SLICE", 7)
    sliced = {r.doc_id: list(r.sig) for r in DD.minhash_signatures(df).collect()}
    assert sliced == whole


def test_simhash_fold_slicing_bit_identical(spark, monkeypatch):
    df = spark.createDataFrame(
        [(i, f"token stream alpha beta gamma {i} " * 15) for i in range(30)],
        "doc_id BIGINT, text STRING",
    )
    whole = {r.doc_id: r.simhash for r in DD.simhash(df).collect()}
    monkeypatch.setattr(DD, "_FOLD_SLICE", 7)
    sliced = {r.doc_id: r.simhash for r in DD.simhash(df).collect()}
    assert sliced == whole


def test_fake_features_numpy_matches_byte_loop():
    """The vectorized featurizer is the SAME exact integer math as
    the original per-byte loop (and therefore as the DuckDB oracle)."""

    def loop(payload: bytes, n_dims: int = 8) -> list[float]:
        if not payload:
            return [0.0] * n_dims
        acc = [0] * n_dims
        for i, b in enumerate(payload):
            acc[i % n_dims] += b
        return [a / (255.0 * len(payload)) for a in acc]

    import random

    rng = random.Random(7)
    cases = [
        b"",
        b"a",
        bytes(range(8)),
        bytes(range(11)),  # ragged tail
        bytes(rng.randrange(256) for _ in range(10_001)),
        bytes(rng.randrange(256) for _ in range(65_536)),
    ]
    for payload in cases:
        assert MM._fake_features(payload) == loop(payload)


def test_giant_doc_minhash_slice_invariant(giant_frame, monkeypatch):
    """The 140k-word doc crosses _FOLD_SLICE (2^17) shingles at the
    default, so the multi-slice path runs for real; a much smaller
    slice must produce the identical signature (associativity pin at
    giant scale)."""
    a = {r.doc_id: list(r.sig) for r in DD.minhash_signatures(giant_frame).collect()}
    monkeypatch.setattr(DD, "_FOLD_SLICE", 1 << 12)
    b = {r.doc_id: list(r.sig) for r in DD.minhash_signatures(giant_frame).collect()}
    assert a == b
    assert all(len(s) == 64 for s in a.values())


def test_giant_doc_flows_through_hot_kernels(giant_frame):
    """End-to-end smoke at giant size: the bounded kernels and the
    linear JVM operators all return structurally correct results."""
    sims = {r.doc_id: r.simhash for r in DD.simhash(giant_frame).collect()}
    assert len(sims) == 52 and sims[900] is not None and sims[901] is not None

    stats = {r.doc_id: r.n_tokens for r in TX.token_stats(giant_frame).collect()}
    assert stats[900] == 140_000 and stats[901] == 23_000 * 9

    chunks = CP.chunk_documents(giant_frame, size=2000)
    n = chunks.filter(F.col("doc_id") == 900).count()
    glen = len(_giant_unique(140_000))
    assert n == (glen + 1999) // 2000

    feats = MM.extract_features(MM.attach_binary_payload(giant_frame))
    big = feats.filter(F.col("doc_id") == 900).collect()[0]
    assert big.n_bytes == glen and len(big.feat) == 8
    assert all(f is not None and 0.0 < f < 1.0 for f in big.feat)


def test_arrow_solo_batch_path(spark, giant_frame):
    """A document larger than maxBytesPerBatch forms its own Arrow
    batch (rows cannot split); drop the cap to 1 MB so the solo-batch
    code path actually runs against the 1.6 MB doc, then restore."""
    key = "spark.sql.execution.arrow.maxBytesPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "1m")
        sigs = DD.minhash_signatures(giant_frame).filter(
            F.col("doc_id") == 900
        ).collect()
        assert len(sigs) == 1 and len(sigs[0].sig) == 64
    finally:
        spark.conf.set(key, old)
