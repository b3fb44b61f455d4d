"""Deduplication transformers: exact, n-gram Jaccard, MinHash-LSH,
SimHash.

Design for 100 TB:

- **exact_dedup** — one hash-shuffle on a 128-bit fingerprint; the
  map-side partial aggregation collapses most duplicates before the
  shuffle.
- **ngram_jaccard_pairs** — inverted-index self-join keyed by shingle.
  Exact, but fanout is quadratic in per-shingle document frequency, so
  it is the *verification* oracle, not the discovery path. At scale,
  MinHash-LSH candidates feed ``jaccard_verify_pairs`` instead: a
  document-frequency cap cannot bind without losing true pairs
  (COVERAGE.md, sf1.0).
- **minhash_lsh_pairs** — the discovery path: constant-size signature
  per doc (num_perm minima), banded into LSH buckets; candidate pairs
  come only from shared buckets, so the join is equi-join-shaped and
  AQE-skew-splittable. Probability a pair with Jaccard s collides:
  1 - (1 - s^r)^b with r = num_perm/bands rows per band.
- **simhash** — 64-bit fingerprint; near-dups differ in few bits.
  Hamming-ball search is a band join on fingerprint chunks.

All hashing uses Spark's xxhash64 (deterministic, seed pinned) and a
fixed-seed affine permutation family, so results are reproducible
across runs and cluster sizes.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .similarity import tables_for_recall
from .text import split_words

#: Mersenne prime 2^31-1; permutation arithmetic stays in BIGINT range
#: because multipliers and hashes are both < 2^31.
_MERSENNE_31 = (1 << 31) - 1

#: Giant-document size contract for the per-row arrow folds (r12):
#: the minhash/simhash kernels expand each row's token/shingle hash
#: array into an (n, num_perm|64) work matrix; this caps the slice of
#: n processed at once so peak kernel memory is ~_FOLD_SLICE*64*8 B
#: (64 MB) PER ROW regardless of document size — a multi-hundred-MB
#: crawl document degrades to a few extra C-loop passes instead of a
#: multi-GB allocation. Slicing is exact: min (minhash) and integer
#: sum (simhash votes) are associative, so output is bit-identical.
_FOLD_SLICE = 1 << 17

#: MinHash banding resolution (:func:`minhash_lsh_params`): pair recall
#: the bands must reach at the threshold, the starting band length r,
#: and the band-count cap that forces r to walk back.
_MINHASH_RECALL = 0.98
_MINHASH_ROWS_PER_BAND = 3
_MINHASH_MAX_BANDS = 64

#: Propagation-round cap of :func:`connected_components`. The bank's
#: near-dup graphs converge in 1-2 rounds; a component whose diameter
#: needs more raises instead of returning partial labels.
_CC_MAX_ROUNDS = 25


def _gram_sql(n: int) -> str:
    """SQL text for the ``n``-word shingle at 1-based position ``i``
    of the word array ``w``, by direct element indexing: ``w[k]`` is
    0-based ``GetArrayItem``, so position ``i`` reads
    ``w[i-1] .. w[i+n-2]``. Transform lambdas evaluate interpreted,
    and the previous ``concat_ws(' ', slice(w, i, n))`` form allocated
    an n-element array per position and re-walked it — the flat
    ``concat`` measured 0.65-0.67x per shingle pass at sf0.1 (r15)
    with bit-identical output: split+filter guarantee non-null
    non-empty elements, where ``concat`` and ``concat_ws`` agree."""
    parts = ", ' ', ".join(f"w[i + {k - 1}]" if k else "w[i - 1]" for k in range(n))
    return f"concat({parts})"


def _hash64_sql(arg_sql: str, hash_fn: str) -> str:
    """SQL-expression text for the 64-bit integer hash of ``arg_sql``.

    - ``"xxhash64"`` (engine default): Spark's JVM-native xxhash64 —
      fastest, but not computable by other engines' SQL.
    - ``"portable_md5_60"``: the first 15 hex chars of md5 parsed as a
      60-bit non-negative BIGINT — chosen because every mainstream SQL
      engine can reproduce it exactly (DuckDB:
      ``('0x' || substr(md5(s), 1, 15))::BIGINT``), so the ENTIRE
      MinHash/SimHash signature+banding chain becomes value-checkable
      cross-engine (pure integer math after the hash). 60 bits keeps
      the parse inside signed-int64 range on every engine. The
      registered ``dedup_minhash_lsh`` / ``dedup_simhash`` queries use
      this so the driver's DuckDB oracle certifies them end-to-end;
      the xxhash64 default stays pinned by the arrow/JVM bit-identity
      and recall property tests.
    """
    if hash_fn == "xxhash64":
        return f"xxhash64({arg_sql})"
    if hash_fn == "portable_md5_60":
        return f"cast(conv(substring(md5({arg_sql}), 1, 15), 16, 10) as bigint)"
    raise ValueError(f"hash_fn must be 'xxhash64' or 'portable_md5_60', got {hash_fn!r}")


def _hash64_col(col, hash_fn: str):
    """Column form of :func:`_hash64_sql`."""
    if hash_fn == "xxhash64":
        return F.xxhash64(col)
    if hash_fn == "portable_md5_60":
        return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")
    raise ValueError(f"hash_fn must be 'xxhash64' or 'portable_md5_60', got {hash_fn!r}")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical content by md5 fingerprint; keep the lowest id.

    Output: (fp, keep_doc_id, n_copies).
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(
            F.min(id_col).cast("bigint").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def novel_documents(
    new_batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest novelty filter: keep only new-batch rows
    whose normalized content fingerprint (lowercased alphanumeric
    skeleton, md5) appears neither in the historical corpus nor
    earlier in the batch itself.

    The shape every continuously-ingesting pipeline needs: dedupe the
    incoming increment against everything already accepted WITHOUT
    rescanning the accepted corpus's text. ``history`` only needs the
    text column here for self-containment; a production deployment
    persists the 16-byte fingerprints as a compact store (documents
    x 16 bytes — ~6 TB of fingerprints per trillion docs) and passes
    that projection, so the anti-join shuffles fingerprints, never
    text. Bucketing the store on the fingerprint makes the join
    one-sided-shuffle. Within-batch dedup is one fingerprint-keyed
    window (earliest id wins), same as ``corpus_clean``.
    """
    from pyspark.sql import Window

    from .text import normalized_fp_col as fp

    hist_fps = history.select(fp(F.col(text_col)).alias("_fp")).distinct()
    batch = new_batch.withColumn("_fp", fp(F.col(text_col)))
    w = Window.partitionBy("_fp").orderBy(id_col)
    first_in_batch = (
        batch.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    return first_in_batch.join(hist_fps, "_fp", "left_anti").drop("_fp")


def _word_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct n-gram word shingles per document: (id, shingle).

    Pure JVM expressions: split -> sequence -> transform(slice) ->
    explode. Documents with fewer than n words produce no shingles.
    The shingle column is the 16-byte md5 of the n-word text, not the
    text: the shingle is only ever a join/distinct KEY downstream, so
    hashing it shrinks every shuffle it enters (including the distinct
    here, applied after the hash); collision odds are
    ~n_shingles^2 / 2^128, negligible at any corpus size."""
    words = split_words(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc_id"), words.alias("w")).filter(F.size("w") >= n)
    ngrams = F.expr(f"transform(sequence(1, size(w) - {n - 1}), i -> unhex(md5({_gram_sql(n)})))")
    return base.select("doc_id", F.explode(ngrams).alias("shingle")).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact Jaccard similarity for every document pair sharing at
    least one n-gram shingle.

    Output: (doc_a, doc_b, jaccard rounded 4dp, _raw_jaccard) with
    doc_a < doc_b. The inverted-index self-join and the
    shingle-distinct shuffle are keyed on 16-byte shingle md5s, never
    n-word strings (the shingle text never leaves the operator).
    """
    sh = _word_shingles(df, text_col, id_col, n)
    # Materialization barrier: the shingle table feeds the size
    # aggregation and BOTH self-join sides; without it each consumer
    # re-runs the corpus scan + explode + distinct (8 scans in the
    # observed plan — Catalyst reuses nothing across the references).
    # The checkpointed frame is (doc_id, 16-byte key) — tiny next to
    # the corpus it replaces. Lineage-truncated blocks are released by
    # the ContextCleaner when the plan is GC'd (same pattern as the
    # MinHash signature table).
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    raw = F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    # per-doc size lookups scale with doc count — AQE decides
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(raw, 4).alias("jaccard"),
            raw.alias("_raw_jaccard"),
        )
    )


def jaccard_verify_pairs(df: DataFrame, candidates: DataFrame, n: int = 3) -> DataFrame:
    """Exact Jaccard for a GIVEN candidate pair set — the verification
    stage of the at-scale near-dup pipeline (MinHash-LSH candidates ->
    exact verify -> connected components).

    ``df`` carries (doc_id, text), ``candidates`` (doc_a, doc_b); output
    matches
    :func:`ngram_jaccard_pairs` — (doc_a, doc_b, jaccard 4dp,
    _raw_jaccard) — restricted to the candidate pairs, with pairs
    sharing no shingle (or with a sub-``n``-word document) kept at
    jaccard 0.0 so the verifier never silently drops a candidate.

    Why it exists: ``ngram_jaccard_pairs`` scores EVERY co-shingled
    pair via the inverted-index self-join, an inherent Omega(sum df^2)
    cost — on boilerplate-dense or low-vocabulary corpora that
    approaches all-pairs, and df-capping cannot bind without losing
    true pairs (measured on the sf1.0 stress corpus: ~29k distinct
    shingles over 50k docs put 99.99% of join mass at df>20, so a
    df cap both misses the mass and would destroy the signal —
    COVERAGE.md). Restricting to LSH candidates makes the cost
    Omega(sum |shingles(doc_a)| over candidate pairs): linear in the
    candidate volume the banding already bounded.

    Shuffle shape: the shingle table is built once
    (16-byte shingle md5s), the candidate
    pairs join doc_a's shingles by id, and the intersection is one
    equi-join on (doc_b, shingle) + a per-pair count — every shuffle
    is keyed by ids/fingerprints, never by text.

    Candidate-doc pruning (r14, guide §2.3 "don't compute what you
    throw away"): the shingle table is built only for documents that
    appear in a candidate pair — a shingle row of any other document
    can never survive the ``doc_a``/``doc_b`` equi-joins, so exploding
    it is pure waste. The candidate pair set (id pairs, bounded by the
    banding the caller already paid for) is checkpointed once — it is
    referenced by the id-prune semi-join, the intersection join and
    the size join, and without a barrier each reference would replay
    the caller's banding subtree — and its distinct ids prune the
    corpus BEFORE the explode (a semi-join on the id, broadcastable
    whenever the candidate set is; at 100 TB this turns "shingle the
    corpus" into "shingle the near-dup working set"). Output is
    bit-identical with or without the prune.
    """
    # duplicate candidate rows would multiply the per-pair `inter`
    # count (each copy re-joins the same shingle matches) AND duplicate
    # output rows — distinct() guards the public API against callers
    # that emit a pair once per colliding band/bucket; it is one
    # id-pair shuffle, cheap next to the shingle joins it protects
    cand = candidates.select("doc_a", "doc_b").distinct().localCheckpoint(eager=False)
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    pruned = df.join(cand_ids, "doc_id", "left_semi")
    sh = _word_shingles(pruned, "text", "doc_id", n).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    szs = cand.join(
        inter, ["doc_a", "doc_b"], "left"
    ).join(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a", "left"
    ).join(
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b", "left"
    )
    union_sz = F.coalesce(F.col("sz_a"), F.lit(0)) + F.coalesce(F.col("sz_b"), F.lit(0)) - F.coalesce(
        F.col("inter"), F.lit(0)
    )
    raw = F.when(
        union_sz > 0,
        F.coalesce(F.col("inter"), F.lit(0)).cast("double") / union_sz,
    ).otherwise(F.lit(0.0))
    return szs.select(
        "doc_a",
        "doc_b",
        F.round(raw, 4).alias("jaccard"),
        raw.alias("_raw_jaccard"),
    )


def _span_key():
    """Shuffle key for span-keyed stages: the 128-bit md5 of the
    n-word span, so shuffles carry 16-byte keys instead of n-word
    strings. Collision odds at corpus scale are ~n_spans^2 / 2^128,
    negligible; the md5 partitions spans identically to the text
    (same key ⇔ same span up to collisions), so the rows equal those
    of the text-keyed DuckDB oracle.
    """
    return F.unhex(F.md5(F.col("span")))


def _span_occurrences(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """Every positioned word ``n``-gram: (doc_id, pos, span) with
    ``pos`` the 1-based word index. Generated shuffle-free per row
    (transform over a sequence of slice offsets)."""
    words = split_words(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc_id"), words.alias("w")).filter(
        F.size("w") >= n
    )
    return base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {n - 1}), "
                f"i -> struct(CAST(i AS BIGINT) AS pos, {_gram_sql(n)} AS span))"
            )
        ).alias("o"),
    ).select("doc_id", F.col("o.pos").alias("pos"), F.col("o.span").alias("span"))


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """Cross-document repeated spans: every word ``n``-gram occurrence
    whose span text appears in at least ``min_df`` DISTINCT documents
    — the discovery phase of exact substring dedup (the suffix-array
    dedup of Lee et al., re-expressed relationally): the returned
    (doc, position) spans are what a removal pass cuts or a
    training-set audit reports.

    Output: (doc_id, pos, span) with ``pos`` the 1-based word index.

    Scale shape: one shuffle keyed on the span for the distinct-doc
    frequency, one semi join back to the positioned occurrences —
    never a pairwise document comparison. The shuffle KEY is the
    16-byte md5 of the span: the frequency aggregation moves
    fingerprints only, while the semi join's probe side still carries
    the span text as row payload because it is this operator's output
    (the removal pass, which doesn't output the text, drops it before
    every shuffle).
    """
    occ = _span_occurrences(df, text_col, id_col, n).withColumn("_key", _span_key())
    shared = (
        occ.groupBy("_key")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("_key")
    )
    return occ.join(shared, "_key", "left_semi").drop("_key")


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """The REMOVAL pass completing exact substring dedup: every
    occurrence of a cross-document repeated span except its globally
    first one (ordered by (doc_id, position)) has its word range cut;
    overlapping cut ranges union. Documents with zero tokens yield no
    row.

    Output: (doc_id, n_kept, n_removed, clean_fp) — the cleaned text
    is returned as an md5 fingerprint plus counts so the result stays
    row-per-document-sized whatever the corpus size.

    Identity-keyed (r11 duplicate-key axis): "document" means a
    DISTINCT ``id_col`` — one output row per distinct id even when
    the input carries replayed-CDC duplicate rows (bit-identical
    copies). Copies produce bit-identical OUTPUT rows (the covered
    set is id-keyed, so both copies meet the same cut set), so the
    dedup runs on the final row-per-document frame — fixed-width
    (id, counts, fp) rows, the narrowest shuffle available; deduping
    the input instead would shuffle the corpus's word arrays and
    break the broadcast join's streamed side. The occurrence side
    needs no dedup — duplicate occurrences collapse in
    count_distinct / min(struct) / collect_set, and a copy never
    makes a span "cross-document" (same id). Duplicate rows with
    CONFLICTING text are upstream corruption, out of contract (an
    arbitrary copy wins).

    Scale shape: span frequency and first-occurrence election fuse
    into ONE partial-aggregable groupBy (count_distinct + min(struct)
    in the same pass) — partial aggregation combines a pathologically
    hot span (a boilerplate header repeated 10^8 times) map-side down
    to one row per input partition, and the join back is a plain
    equi-join AQE's skew handling can split (a
    Window.partitionBy(span) would pin every occurrence of the hot
    span to one task with no recourse). The span TEXT never enters a
    shuffle on this path: occurrences shuffle as (key, doc_id, pos)
    where key is the 16-byte md5 of the span. Covered word
    indices aggregate to ONE set-valued row per affected document
    (bounded by repeat volume, not corpus size) and join back to the
    document's word ARRAY; the cut itself is a per-row ``filter`` over
    that array — the corpus's words are never exploded into a shuffle
    and the rebuild needs no collect_list/sort (measured 3.5s -> 2.9s
    at sf0.1 for the span-scrub query, whose remaining cost is the
    inherent explode-to-ngrams discovery side).
    """
    words_arr = split_words(F.col(text_col))
    # NULL ids excluded on BOTH legs (engine NULL-identity policy):
    # the id-keyed output dedup would otherwise pool every NULL-id
    # row into one arbitrary representative, and a NULL-id occurrence
    # could win the first-occurrence election for a span it shares
    # with a real document
    df = df.filter(F.col(id_col).isNotNull())
    base = df.select(F.col(id_col).alias("doc_id"), words_arr.alias("w")).filter(
        F.size("w") >= 1
    )

    occ = (
        _span_occurrences(df, text_col, id_col, n)
        .withColumn("_key", _span_key())
        .select("doc_id", "pos", "_key")  # span text stays out of the shuffles
    )
    stats = (
        occ.groupBy("_key")
        .agg(
            F.count_distinct("doc_id").alias("_df"),
            F.min(F.struct("doc_id", "pos")).alias("_first"),
        )
        .filter(F.col("_df") >= min_df)
        .select("_key", "_first")
    )
    removable = (
        occ.join(stats, "_key")
        .filter(
            (F.col("doc_id") != F.col("_first.doc_id"))
            | (F.col("pos") != F.col("_first.pos"))
        )
        .drop("_key", "_first")
    )
    covered = (
        removable.select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias("idx"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("idx").alias("_cov"))
    )

    cov = F.coalesce(F.col("_cov"), F.array().cast("array<bigint>"))
    # 1-based word index matches _span_occurrences' pos convention
    kept = F.filter(
        F.col("w"), lambda w, i: ~F.array_contains(cov, (i + F.lit(1)).cast("bigint"))
    )
    # explicit first()-aggregate rather than dropDuplicates(subset):
    # identical semantics (copies are bit-identical), but the
    # Deduplicate-on-subset node trips Spark 4.1's exceptAll rewrite
    # into INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND when downstream set ops
    # re-bind the projected columns
    return (
        base.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size(kept).cast("bigint").alias("n_kept"),
            (F.size("w") - F.size(kept)).cast("bigint").alias("n_removed"),
            F.md5(F.concat_ws(" ", kept)).alias("clean_fp"),
        )
        .groupBy("doc_id")
        .agg(
            F.first("n_kept").alias("n_kept"),
            F.first("n_removed").alias("n_removed"),
            F.first("clean_fp").alias("clean_fp"),
        )
    )


def _permutation_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31)) for _ in range(num_perm)]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    seed: int = 42,
    with_text_fp: bool = False,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: (doc_id, sig array<bigint>).

    ``hash_fn`` selects the shingle hash (:func:`_hash64_sql`):
    ``"xxhash64"`` (default, JVM-native) or ``"portable_md5_60"``
    (cross-engine-reproducible; the driver-certified query variant).
    Everything downstream of the hash is pure integer math, identical
    for either choice.

    ``with_text_fp=True`` adds a ``_tfp`` column — the 16-byte md5 of
    the raw text — computed in the SAME pass (no extra corpus scan),
    so callers can collapse verbatim-identical documents at the
    signature table (see the certified dedup edge chain): identical
    text ⇒ identical signature, and banding cannot damp true
    identical-signature clusters, so exact collapse must happen
    before the band join. The fingerprint rides the ``mapInPandas``
    batch untouched.

    Each permutation is an affine map over the xxhash64 shingle hash
    reduced mod 2^31-1; the signature component is the min over the
    document's shingles.

    **Shuffle-free** (embarrassingly parallel; the only shuffles in
    the whole LSH pipeline are the band-bucket joins). Shingle hashing
    stays a JVM expression; the num_perm affine-min fold runs as a
    vectorized numpy kernel behind ``mapInPandas`` (one
    ``(n_shingles, num_perm)`` broadcasted multiply-mod-min per row,
    ~27 KB peak per row at the defaults — batch memory is bounded per
    ROW, not per corpus; a giant document is folded in
    :data:`_FOLD_SLICE`-shingle slices). The math is pure int64, no
    floating point, pinned bit-for-bit against an independent Python
    model in tests.
    """
    words = split_words(F.col(text_col))
    extra = [F.unhex(F.md5(F.col(text_col))).alias("_tfp")] if with_text_fp else []
    base = df.select(F.col(id_col).alias("doc_id"), words.alias("w"), *extra).filter(
        F.size("w") >= n
    )
    # distinct shingle hashes, reduced mod p, as one array per doc
    shingle_hash = _hash64_sql(_gram_sql(n), hash_fn)
    hashes = F.expr(
        f"array_distinct(transform(sequence(1, size(w) - {n - 1}), "
        f"i -> pmod({shingle_hash}, {_MERSENNE_31}L)))"
    )
    perms = _permutation_params(num_perm, seed)
    fp_cols = ["_tfp"] if with_text_fp else []
    hdf = base.select("doc_id", hashes.alias("h"), *fp_cols)
    out_schema = T.StructType(
        [
            T.StructField("doc_id", hdf.schema["doc_id"].dataType),
            T.StructField("sig", T.ArrayType(T.LongType())),
        ]
        + [T.StructField("_tfp", T.BinaryType()) for _ in fp_cols]
    )

    slice_n = _FOLD_SLICE

    def fold(batches):
        import numpy as np
        import pandas as pd

        a = np.array([p[0] for p in perms], dtype=np.int64)[None, :]
        b = np.array([p[1] for p in perms], dtype=np.int64)[None, :]
        for pdf in batches:
            sigs = []
            for h in pdf["h"]:
                hh = np.asarray(h, dtype=np.int64)[:, None]
                # hh < 2^31 and a < 2^31, so hh*a + b < 2^62: no
                # int64 overflow before the mod. The (n_shingles,
                # num_perm) multiply is SLICED along the shingle
                # axis (r12 giant-document axis): one
                # multi-hundred-MB document has millions of
                # distinct shingles, and the unsliced matrix was
                # the first engine kernel to blow up (n x 64 x 8 B
                # ≈ 85 bytes per text byte — a 64 MB doc built a
                # ~3 GB temp for ONE row). Running elementwise min
                # across slices is exact (min is associative), so
                # the output stays bit-identical while peak memory
                # is bounded at _FOLD_SLICE*num_perm*8 ≈ 64 MB.
                if hh.shape[0] <= slice_n:
                    sigs.append(((hh * a + b) % _MERSENNE_31).min(axis=0))
                else:
                    acc = None
                    for s in range(0, hh.shape[0], slice_n):
                        m = ((hh[s : s + slice_n] * a + b) % _MERSENNE_31).min(axis=0)
                        acc = m if acc is None else np.minimum(acc, m)
                    sigs.append(acc)
            out = {"doc_id": pdf["doc_id"], "sig": sigs}
            for c in fp_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return hdf.mapInPandas(fold, out_schema)


def minhash_lsh_params(threshold: float) -> tuple[int, int]:
    """Resolve (num_perm, bands) for MinHash-LSH banding from the
    Jaccard threshold — the banding twin of
    :func:`~mozart_etl_spark.operators.similarity.auto_lsh_params`.

    One band of r signature rows collides for a pair of Jaccard j with
    probability ``j^r``; B bands reach pair recall ``1 - (1-j^r)^B``,
    so the smallest B meeting :data:`_MINHASH_RECALL` at
    ``j = threshold`` is ``ceil(log(1-R) / log(1-t^r))`` and
    ``num_perm = r*B``.

    Why r matters more than B at scale: r is the ONLY knob bounding
    candidate volume from NON-pairs. An unrelated pair with background
    signature agreement b collides per band with ``b^r`` — on a
    low-vocabulary or boilerplate-heavy corpus b is large, and the
    within-bucket pair enumeration is quadratic in bucket size.
    Measured on the 500k-doc sf10 stress corpus (~30-word vocabulary,
    the adversarial case): r=2/B=32 enumerates 40.7M pre-dedup pairs
    (max bucket 879), r=3/B=30 enumerates 437k (93x less, max bucket
    285), r=4/B=16 7.8k — while per-TRUE-pair recall at j=0.5 is
    0.9999 / 0.982 / 0.645. r=3 (:data:`_MINHASH_ROWS_PER_BAND`) is
    the start: the smallest r whose background collision odds shrink
    cubically, with recall restored by band count instead of shorter
    bands.

    If the recall target would need more than
    :data:`_MINHASH_MAX_BANDS` bands, r is walked back toward 2
    (shorter bands collide more); if even (r=2, max bands) misses the
    target, raises ValueError naming the gap — silently under-recalling
    or exploding band count are both worse than making the caller
    choose explicit (num_perm, bands).
    """
    t = max(0.0, min(1.0, threshold))
    for r in range(_MINHASH_ROWS_PER_BAND, 1, -1):
        bands = tables_for_recall(t**r, _MINHASH_RECALL, _MINHASH_MAX_BANDS)
        if bands is not None:
            return r * bands, bands
    raise ValueError(
        f"minhash_lsh_params: recall target {_MINHASH_RECALL} at threshold "
        f"{threshold} needs more than max_bands={_MINHASH_MAX_BANDS} bands even at "
        "rows_per_band=2; pass explicit (num_perm, bands)"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """LSH-banded near-duplicate candidate pairs with estimated
    Jaccard (fraction of matching signature components).

    ``hash_fn`` selects the shingle AND band hash
    (:func:`_hash64_sql`): the portable choice makes the whole chain
    value-checkable by another engine's SQL.

    Output: (doc_a, doc_b, est_jaccard) with doc_a < doc_b, one row
    per candidate pair (deduped across bands). The candidate join is
    an equi-join on (band_id, band_hash) — no all-pairs comparison.
    :func:`minhash_lsh_params` resolves (num_perm, bands) from a
    Jaccard threshold.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    # Materialization barrier: the signature table is tiny (num_perm*8
    # B/doc) but its generating expression is expensive; without a
    # barrier, CollapseProject inlines it into every band-hash
    # reference (16 bands x 2 join sides => ~32x recompute).
    # localCheckpoint instead of persist(): lineage-truncated blocks
    # are released by the ContextCleaner once the plan is GC'd, so
    # repeated calls don't pin executor memory for the session.
    # One signature row per doc_id (r13): replayed-CDC duplicate rows
    # are bit-identical copies by contract, so collapsing them here is
    # semantics-free on legal input — without it each duplicate row
    # re-attaches at the est_jaccard join and every pair touching a
    # duplicated doc is emitted once per copy. The shuffle is on the
    # tiny fixed-width signature table (num_perm*8 B/doc), keyed by
    # the same doc_id the re-attach joins already need.
    sigs = (
        minhash_signatures(df, text_col, id_col, n, num_perm, seed, hash_fn=hash_fn)
        .dropDuplicates(["doc_id"])
        .localCheckpoint(eager=False)
    )
    return signature_band_pairs(sigs, num_perm, bands, hash_fn=hash_fn)


def signature_band_pairs(
    sigs: DataFrame,
    num_perm: int,
    bands: int,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The banding stage of MinHash-LSH, over an EXISTING signature
    table ``(doc_id, sig array<bigint>)``: band self-join candidates
    + estimated Jaccard. Split out of :func:`minhash_lsh_pairs` so
    pipelines that transform the signature table before banding (the
    certified dedup edge chain collapses verbatim-identical texts to
    one representative signature first — banding cannot damp true
    identical-signature clusters) reuse the identical join shape.

    ``sigs`` must already sit behind a materialization barrier
    (``localCheckpoint``): the band hashes reference ``sig`` ~2*bands
    times and the candidate join re-attaches both signatures — an
    unbarriered generating expression would be recomputed at every
    reference.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands
    # ONE F.expr string, not nested Column algebra (r15): building the
    # bands*(r+2) Column objects Python-side cost 0.43 s of py4j round
    # trips PER QUERY CONSTRUCTION at bands=16 — driver wall time the
    # bench pays before any task runs. The SQL text parses in a single
    # JVM call to the identical expression tree (`sig[k]` is the same
    # 0-based GetArrayItem as F.col("sig")[k]).
    def _band_sql(i: int) -> str:
        parts = ", ".join(f"cast(sig[{i * r + j}] as string)" for j in range(r))
        return (
            f"struct({i} AS band_id, "
            f"{_hash64_sql(f_concat(parts), hash_fn)} AS band_hash)"
        )

    def f_concat(parts: str) -> str:
        return f"concat_ws(',', {parts})"

    band_structs = F.expr("array(" + ", ".join(_band_sql(i) for i in range(bands)) + ")")
    # The band join moves (doc_id, band_id, band_hash) ONLY — never the
    # signature array. Carrying sig through the self-join would shuffle
    # num_perm*8 bytes per doc per band per side (16x redundant at
    # bands=16); instead the deduped candidate pairs re-attach both
    # signatures with two id-keyed equi-joins against the checkpointed
    # signature table, which shuffles each signature once per side.
    banded = sigs.select("doc_id", F.explode(band_structs).alias("band")).select(
        "doc_id", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash")
    )
    a = banded.select(F.col("doc_id").alias("doc_a"), "band_id", "band_hash")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band_id", "band_hash")
    pairs = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cand = pairs.join(
        sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")), "doc_a"
    ).join(
        sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")), "doc_b"
    )
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.round(matches.cast("double") / F.lit(num_perm), 4).alias("est_jaccard"),
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash fingerprint per document.

    ``hash_fn`` selects the token hash (:func:`_hash64_sql`). With
    ``"portable_md5_60"`` the hash is a 60-bit value, so fingerprint
    bits 60-63 are always clear (every token votes -1 there) — the
    fingerprint is then a 60-bit SimHash, reproducible by any SQL
    engine with md5; Hamming-distance semantics are unchanged.

    Token hashes vote per bit (+1 if set, -1 if clear); every token
    OCCURRENCE votes, not every distinct token. The fingerprint sets
    each bit where the vote is positive. Output: (doc_id, simhash
    BIGINT). Near-duplicate documents land within a small Hamming
    distance; banding the 64 bits into chunks turns radius-k search
    into equi-joins (same pattern as MinHash-LSH).

    Shuffle-free. Token hashing stays a JVM expression; the 64-slot
    vote tally runs as a vectorized numpy kernel behind
    ``mapInPandas`` (one ``(n_tokens, 64)`` bit extract + sum per
    row, in :data:`_FOLD_SLICE`-token slices; peak memory is per ROW,
    not per batch). Pure integer math, pinned bit-for-bit against an
    independent Python model in tests.

    NULL text yields a NULL fingerprint; an empty token list yields 0
    (all votes tie at zero, no bit set).
    """
    words = split_words(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc_id"), words.alias("w"))
    hdf = base.select(
        "doc_id", F.transform("w", lambda t: _hash64_col(t, hash_fn)).alias("h")
    )
    out_schema = T.StructType(
        [
            T.StructField("doc_id", hdf.schema["doc_id"].dataType),
            T.StructField("simhash", T.LongType()),
        ]
    )
    slice_n = _FOLD_SLICE

    def fold(batches):
        import numpy as np
        import pandas as pd

        ks = np.arange(64, dtype=np.int64)[None, :]
        uks = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            out = []
            for h in pdf["h"]:
                if h is None:
                    out.append(None)
                    continue
                hh = np.asarray(h, dtype=np.int64)[:, None]
                if hh.size == 0:
                    out.append(0)
                    continue
                # >> on int64 is arithmetic, matching Java's >>;
                # bit k of h is ((h >> k) & 1) on both engines.
                # Sliced along the token axis (r12 giant-document
                # axis, same bound as the minhash fold): every
                # OCCURRENCE votes, so a multi-hundred-MB document
                # has tens of millions of token rows in the (n,
                # 64) bit matrix; per-slice integer vote sums are
                # exact, output bit-identical, peak memory capped.
                votes = sum(
                    (2 * ((hh[s : s + slice_n] >> ks) & 1) - 1).sum(axis=0)
                    for s in range(0, hh.shape[0], slice_n)
                )
                fpv = int(((votes > 0).astype(np.uint64) << uks).sum(dtype=np.uint64))
                out.append(fpv - (1 << 64) if fpv >= (1 << 63) else fpv)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "simhash": pd.array(out, dtype="Int64")}
            )

    return hdf.mapInPandas(fold, out_schema)


def connected_components(edges: DataFrame, nodes: DataFrame | None = None) -> DataFrame:
    """Connected components by iterative min-label propagation: the
    step that turns near-duplicate PAIRS into duplicate GROUPS (keep
    one representative per component, drop the rest). ``edges``
    carries the pairs as (doc_a, doc_b).

    Each node starts labeled ``min(node, min neighbor)`` (one free
    propagation round, computed in the pass that enumerates the nodes
    anyway); every round each node then takes the min of its own
    label and its neighbors' labels, until a round changes nothing.
    Convergence needs at most ``diameter`` rounds — near-dup clusters
    are small and dense, so a handful in practice; a component that
    needs more than :data:`_CC_MAX_ROUNDS` raises. Per round: one
    equi-join + one partial-aggregable groupBy (shuffles on node id
    only), with ``localCheckpoint`` truncating the lineage so plan
    size stays constant across iterations; the previous label rides
    the same aggregation, and the changed-label count rides the
    checkpoint's materialization job as an ``observe()`` metric (r15,
    guide §5 — no driver-side probe job at all: each round is exactly
    ONE job, and the driver reads a scalar metric the propagation job
    already computed).

    Output: (node, component) where component = min node id reachable.
    By default nodes not in any edge are ABSENT from the output — the
    edge-connected view. Pass ``nodes`` (a one-column DataFrame holding
    the FULL node universe, e.g. ``docs.select("doc_id")``) to get
    total coverage: every universe node not reached by an edge is
    emitted as its own singleton component (``component = node``). A
    dedup keep-list needs total coverage — a caller that forgets the
    singleton union silently drops every non-duplicated document from
    the keep-list, which is why the contract is an option here rather
    than a docstring note (r9 verdict). Coverage is total from BOTH
    sides (r11): every converged edge-node label is emitted even when
    that node is absent from the supplied universe (a caller passing
    a filtered or stale universe must not silently lose components),
    and every universe node not reached by an edge is appended as its
    own singleton via one anti-join on node id — same key and shape
    as a left join (SMJ static, AQE-broadcastable when the label side
    is small; a static broadcast hint would OOM a fully-duplicated
    corpus), and the singleton union adds no shuffle. NULL universe
    ids are excluded (a NULL key
    can't name a document — engine NULL-identity policy: sequence and
    identity-keyed operators drop NULL identities explicitly).
    """
    und = (
        edges.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .union(edges.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    # Init with min(node, min neighbor) — identical to one propagation
    # round from identity labels, but it rides the groupBy that had to
    # enumerate the nodes anyway, so every run saves one full
    # join+aggregate round (star graphs converge here immediately).
    labels = (
        und.groupBy("a")
        .agg(F.min("b").alias("_mb"))
        .select(F.col("a").alias("node"), F.least("a", "_mb").alias("lab"))
    )
    from pyspark.sql import Observation

    def one_round(lbl: DataFrame) -> DataFrame:
        nbr = und.join(
            lbl.select(F.col("node").alias("b"), "lab"), "b"
        ).select(F.col("a").alias("node"), "lab", F.lit(False).alias("_own"))
        # carry the node's previous label through the same aggregation
        # (max over the single _own row) so convergence detection needs
        # no second join
        return (
            lbl.withColumn("_own", F.lit(True))
            .unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("lab").alias("lab"),
                F.max(F.when(F.col("_own"), F.col("lab"))).alias("_old"),
            )
        )

    # One observed round per job. A 2-round fuse per job (propagation
    # at the fixpoint is the identity, so observing only the last
    # fused round stays exact) was measured and REJECTED in r15: the
    # fused plan's extra exchanges cost what the saved job costs
    # (isolated cc-stage medians 0.74 s obs/1-round vs 0.77 s fused/2
    # vs 0.95 s fused/3 vs 0.90 s for the r14 probe loop), and at
    # scale a fuse wastes up to unroll-1 full propagation rounds past
    # the fixpoint.
    converged = False
    for _ in range(_CC_MAX_ROUNDS):
        new_labels = one_round(labels)
        # the eager checkpoint IS the round's action; the observed
        # metric fills during it, so reading `changed` schedules no
        # extra job (None = empty label table = vacuously converged)
        obs = Observation()
        new_labels = new_labels.observe(
            obs,
            F.sum(F.when(F.col("lab") != F.col("_old"), 1).otherwise(0)).alias(
                "changed"
            ),
        ).localCheckpoint(eager=True)
        changed = int(obs.get["changed"] or 0)
        labels = new_labels.select("node", "lab")
        if changed == 0:
            converged = True
            break
    if not converged:
        # exhausting the round cap without a fixed point means the
        # labels are PARTIALLY propagated — silently returning them
        # would split one true component into several with no error
        # signal. Components of larger diameter (long similarity
        # chains) need pointer jumping (SCALING.md).
        raise RuntimeError(
            f"connected_components did not converge in _CC_MAX_ROUNDS="
            f"{_CC_MAX_ROUNDS} rounds (a component's graph diameter exceeds it)"
        )
    out = labels.select(F.col("node"), F.col("lab").alias("component"))
    if nodes is not None:
        (node_col,) = nodes.columns
        universe = (
            nodes.select(F.col(node_col).alias("node"))
            .filter(F.col("node").isNotNull())
            .dropDuplicates()
        )
        # anti-join, not left join: the labeled side passes through
        # WHOLE (edge nodes outside the universe keep their
        # components — a left join would silently drop them), and
        # only universe nodes with no label become singletons
        singletons = universe.join(out, "node", "left_anti").select(
            "node", F.col("node").alias("component")
        )
        return out.unionByName(singletons)
    return out
