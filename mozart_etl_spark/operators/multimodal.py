"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Real decode libraries (PIL/librosa/ffmpeg) are not available in this
environment, so the *decode* step is STUBBED (clearly marked below).
Everything Spark-side is real and tested: schema shape, Arrow-batched
``mapInPandas`` signature, partition-size control, and the metadata
struct convention.

Convention: a multimodal table carries
  - ``payload``  BINARY        (opaque bytes: image/audio/video)
  - ``media``    STRUCT<kind: STRING, n_bytes: BIGINT, meta: STRING>
and feature extraction is a mapInPandas over batches of payloads,
returning a fixed, declared schema (never inferred).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

def attach_binary_payload(df: DataFrame, text_col: str = "text", kind: str = "blob") -> DataFrame:
    """Wrap a column as an opaque binary payload + media metadata
    struct (stands in for reading image/audio bytes from object
    storage; the schema contract is what matters). NULL source values
    become EMPTY payloads — downstream feature extraction then has one
    well-defined degenerate case (zero bytes) instead of a nullable
    binary column that crashes Arrow-batch ``len()`` calls."""
    payload = F.encode(F.coalesce(F.col(text_col), F.lit("")), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media",
        F.struct(
            F.lit(kind).alias("kind"),
            F.length(payload).cast("bigint").alias("n_bytes"),
            F.lit("{}").alias("meta"),
        ),
    )


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feat", ArrayType(DoubleType())),
    ]
)


def _fake_features(payload: bytes, n_dims: int = 8) -> list[float]:
    """Deterministic fake featurizer: byte-histogram moments.

    STUB for a real decoder (image resize + CNN embed, audio
    spectrogram, video frame-sample). Deterministic so tests can
    assert values; replace the body, keep the signature.

    The math is an exact integer byte-sum per dimension followed by a
    single IEEE-754 division — bit-exact reproducible in any engine
    (sum order is irrelevant for integers; one correctly-rounded
    division), which lets the registered query carry a full DuckDB
    oracle instead of a rows-only check.

    Vectorized (r12 giant-document axis): the original per-byte
    Python loop cost ~10 s per MB under contention — a 16 MB payload
    (one real image; video frames are bigger) took minutes for one
    row. numpy int64 column sums over the reshaped byte buffer are
    the SAME exact integer sums (a payload would need > 2^55 bytes to
    overflow int64), so values are bit-identical to the loop and to
    the DuckDB oracle.
    """
    if not payload:
        return [0.0] * n_dims
    import numpy as np

    a = np.frombuffer(payload, dtype=np.uint8)
    n = a.size
    body = (n // n_dims) * n_dims
    acc = a[:body].reshape(-1, n_dims).sum(axis=0, dtype=np.int64)
    if body < n:
        acc = acc.copy()
        acc[: n - body] += a[body:].astype(np.int64)
    return [float(x) / (255.0 * n) for x in acc]


def extract_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    n_dims: int = 8,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas (not a row UDF): each Python worker receives Arrow
    record batches; output schema is declared, not inferred. At scale,
    repartition upstream so each task holds an even share of payload
    bytes (payloads can dwarf row counts)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # defensive: payloads from attach_binary_payload are never
            # NULL, but a foreign source's nullable binary column must
            # degrade to the empty-payload case, not crash the batch
            payloads = pdf[payload_col].map(lambda p: b"" if p is None else bytes(p))
            yield pd.DataFrame(
                {
                    # nullable Int64 (r14 advisor): Arrow->pandas turns
                    # a NULL id into float64 NaN; plain astype("int64")
                    # would raise and split the engines by exception
                    # where the SQL oracle just groups the NULL. Same
                    # pattern as the simhash kernel.
                    "doc_id": pdf[id_col].astype("Int64"),
                    "kind": pdf["media"].map(lambda m: m["kind"]),
                    "n_bytes": payloads.map(len).astype("int64"),
                    "feat": payloads.map(lambda p: _fake_features(p, n_dims)),
                }
            )

    return df.select(id_col, payload_col, "media").mapInPandas(run, FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("n_bytes", LongType()),
        StructField("checksum", LongType()),
    ]
)


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    frame_bytes: int = 256,
    every: int = 3,
) -> DataFrame:
    """Frame sampling over an opaque video-like payload: split the
    byte stream into consecutive ``frame_bytes`` windows (the last
    window may be partial), keep every ``every``-th frame, and emit
    one row per sampled frame — the mapInPandas plumbing a real video
    frame-sampler uses (declared explode-shaped output schema, Arrow
    batches, per-row work bounded by payload size). The DECODE step
    is stubbed (no codec libraries in this environment); the
    per-frame statistic is a deterministic position-weighted checksum
    ``sum((byte+1) * (pos_in_frame+1))`` — pure integer math, so the
    registered query carries a full DuckDB oracle (bit-exact, no
    tolerance; a byte reorder inside a frame changes the value, which
    a plain byte-sum would miss). A real deployment replaces the
    checksum with decode+embed and keeps the schema/batch shape.

    Per-row semantics (duplicate-row contract): a replayed duplicate
    id row emits its own identical frame rows — no pooling. An empty
    payload emits ZERO rows (a zero-byte video has no frames).
    """
    if frame_bytes < 1 or every < 1:
        raise ValueError("frame_bytes and every must be >= 1")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, idxs, sizes, sums = [], [], [], []
            for doc_id, p in zip(pdf[id_col], pdf[payload_col]):
                b = b"" if p is None else bytes(p)
                n = len(b)
                if n == 0:
                    continue
                # NULL id -> pd.NA, not int(NaN) crash (r14 advisor):
                # Arrow->pandas delivers a NULL id as float64 NaN
                did = None if pd.isna(doc_id) else int(doc_id)
                n_frames = -(-n // frame_bytes)
                # Vectorized per-frame fold (r14; r13 flagged the
                # per-frame Python loop as O(frames) interpreter work
                # per row): pad the byte stream to a whole number of
                # frames with -1 (so the (byte+1) weight of a padded
                # position is exactly 0), view it as a
                # (n_frames, frame_bytes) matrix, select ONLY the
                # sampled rows, and fold each against the position
                # vector in one matrix expression — the same
                # fully-vectorized shape as the featurizer beside it,
                # and it touches only ~1/every of the payload where a
                # whole-stream bincount would touch all of it.
                # Exactness: int64 end to end, per-frame sums <= 2^24
                # — bit-identical to the loop it replaces (pinned
                # across partial-last-frame / tiny / unsampled-tail
                # shapes in tests), DuckDB oracle untouched. Measured
                # 4.1x on a 2 MiB payload (24.8 ms -> 6.0 ms per
                # row, local[32] host, r14).
                ap = np.full(n_frames * frame_bytes, -1, dtype=np.int64)
                ap[:n] = np.frombuffer(b, dtype=np.uint8)
                sel = np.arange(0, n_frames, every, dtype=np.int64)
                m = ap.reshape(n_frames, frame_bytes)[sel]
                pos = np.arange(1, frame_bytes + 1, dtype=np.int64)
                fsums = ((m + 1) * pos).sum(axis=1)
                fsizes = np.full(sel.size, frame_bytes, dtype=np.int64)
                if sel.size and sel[-1] == n_frames - 1:
                    fsizes[-1] = n - (n_frames - 1) * frame_bytes
                ids.extend([did] * sel.size)
                idxs.extend(sel.tolist())
                sizes.extend(fsizes.tolist())
                sums.extend(fsums.tolist())
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="Int64"),
                    "frame_idx": pd.array(idxs, dtype="int64"),
                    "n_bytes": pd.array(sizes, dtype="int64"),
                    "checksum": pd.array(sums, dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, FRAME_SCHEMA)


THUMB_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("thumb", ArrayType(DoubleType())),
    ]
)


def resize_payload_grid(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    out_dims: int = 16,
) -> DataFrame:
    """Resize plumbing over an opaque image-like payload: downsample
    the byte stream to a fixed ``out_dims``-bucket grid (byte j goes
    to bucket ``j * out_dims // n``; bucket value = mean byte / 255).
    This is the mapInPandas shape a real image resize uses (fixed
    declared output width, Arrow batches, per-row vectorized kernel);
    the DECODE step is stubbed (no codec libraries), and
    the bucket mean is exact-integer sums + ONE IEEE division — the
    same bit-exact-across-engines math as the featurizer, so the
    registered query carries a full DuckDB oracle. Empty payloads and
    empty buckets (payload shorter than the grid) yield 0.0 — one
    well-defined degenerate case, mirrored in SQL.

    Row-faithful: one output row per input row, duplicates included.
    """
    if out_dims < 1:
        raise ValueError("out_dims must be >= 1")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            thumbs, sizes = [], []
            for p in pdf[payload_col]:
                b = b"" if p is None else bytes(p)
                n = len(b)
                sizes.append(n)
                if n == 0:
                    thumbs.append([0.0] * out_dims)
                    continue
                a = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                # byte j -> bucket j*m//n: j*m stays far inside int64
                buckets = (np.arange(n, dtype=np.int64) * out_dims) // n
                sums = np.bincount(buckets, weights=a, minlength=out_dims)
                counts = np.bincount(buckets, minlength=out_dims)
                # float sums of ints < 2^53 are exact; one division
                thumbs.append(
                    [
                        (float(s) / (255.0 * int(c)) if c else 0.0)
                        for s, c in zip(sums, counts)
                    ]
                )
            yield pd.DataFrame(
                {
                    # nullable Int64: NULL ids must degrade to NULL
                    # output rows, not an astype crash (r14 advisor)
                    "doc_id": pdf[id_col].astype("Int64"),
                    "n_bytes": pd.array(sizes, dtype="int64"),
                    "thumb": thumbs,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, THUMB_SCHEMA)
