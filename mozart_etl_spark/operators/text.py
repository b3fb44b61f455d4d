"""Text-analysis transformers for pre-training-corpus pipelines.

Everything here is built from JVM-side ``pyspark.sql.functions``
expressions (whole-stage-codegen friendly); nothing leaves the
executors. The regex dialect used is the ASCII-safe common subset of
Java regex and RE2 so a SQL oracle can mirror the semantics exactly.

Text-normalization contract (r11, measured in
tests/test_unicode_parity.py):

- Every operator is CODEPOINT-faithful, not grapheme- or
  normalization-aware: ``length`` counts codepoints, tokenizers split
  on ASCII whitespace only (``\\s`` is ASCII in both Java regex and
  RE2 — NBSP/ideographic space are token-internal), shingles and
  fingerprints hash the bytes they are given. NFC and NFD encodings
  of the same visible text are therefore DIFFERENT documents: the
  engine never normalizes silently.
- Measured parity-SAFE classes (identical in Spark and DuckDB):
  accented Latin, Greek, Cyrillic, CJK spans, ligatures, sharp-s,
  combining-mark stacks, astral-plane emoji (incl. ZWJ sequences and
  regional-indicator flags — even through ``split('') + ascii()``),
  NFC vs NFD, NBSP/ideographic space.
- Measured DIVERGENT classes, both confined to ``lower()``: Turkish
  dotted İ (Spark/Java lowers to 'i' + combining dot above, two
  codepoints; DuckDB/utf8proc to plain 'i') and Greek word-final Σ
  (Java applies the Unicode SpecialCasing context rule Σ→ς at word
  end; utf8proc maps Σ→σ unconditionally). Neither is wrong. Every
  ``lower()`` consumer in this engine is structurally immune —
  :func:`normalized_fp_col` strips non-[0-9A-Za-z] BEFORE lowering,
  language-ID/stopword checks are ASCII-anchored — and the edges
  variant sweep injects both classes to keep that immunity proven.
  An operator that must emit lowered raw unicode text cannot be
  oracle-certified on these classes; normalize at ingest instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


#: the 52 ASCII letters, for translate-deletion char counts
_ASCII_ALPHA = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"


def split_words(text: Column) -> Column:
    """A document's words: its NON-EMPTY whitespace tokens. Spark's
    trim() strips only ASCII spaces and split() keeps boundary
    empties, so an unfiltered split sees phantom tokens on
    \\n/\\t-padded text (and 2 on '\\n\\n'); filtering empties gives
    the intuitive words and none for empty/whitespace-only text with
    no special-case guard. The one definition for every operator and
    query; oracles use its DuckDB twin, ``querybank.WORDS_SQL``."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def _n_tokens(text: Column) -> Column:
    """Word count (:func:`split_words`)."""
    return F.size(split_words(text)).cast("bigint")


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Char + token counts per document (whitespace tokenization)."""
    t = F.col(text_col)
    return df.select(
        id_col,
        F.length(t).cast("bigint").alias("n_chars"),
        _n_tokens(t).alias("n_tokens"),
    )


#: BPE-ish pre-tokenizer: letter runs, digit runs, single
#: non-alphanumeric marks — the ASCII-safe common subset of Java regex
#: and RE2 (mirrors the GPT-2 pre-tokenizer's class structure without
#: \p classes or lookahead, which RE2/DuckDB lack).
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def regex_token_count(text: Column) -> Column:
    """Token count under :data:`BPE_TOKEN_PATTERN`."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_PATTERN), F.lit(0))).cast("bigint")


#: Small English stopword set for ratio features (deterministic,
#: mirrored verbatim in SQL oracles).
STOPWORDS: tuple[str, ...] = ("the", "and", "of", "to", "a", "in", "is", "it")


def stopword_ratio(text: Column) -> Column:
    """Fraction of whitespace tokens that are :data:`STOPWORDS`
    (lowercased)."""
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    sw = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t))).cast("double")
    return n_stop / F.nullif(_n_tokens(text).cast("double"), F.lit(0.0))


def rolling_hash(text: Column) -> Column:
    """Polynomial rolling hash over the character stream:
    ``h = (h*31 + codepoint) mod (2^31 - 1)`` — the classic Rabin-Karp
    fingerprint, computed as one codegen-friendly fold (no UDF)."""
    chars = F.split(text, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("bigint"),
        lambda acc, c: F.pmod(acc * F.lit(31) + F.ascii(c), F.lit(2147483647)),
    )


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-quality heuristics: alphabetic ratio, whitespace ratio,
    mean token length. The standard cheap filters applied before
    expensive model-based scoring.

    Char-class COUNTS via translate-deletion, not regexp_replace
    stripping (r12 giant-document axis): Spark's RegExpReplace pays
    per-MATCH appendReplacement overhead — ~7x slower than a single
    translate pass on a ~2 MB document whose every other char is a
    match. translate deletes exactly the enumerated chars, so
    length-difference counts are value-identical to the stripped
    lengths (``\\s`` in Java regex is ASCII-only: the 6 chars below).
    """
    t = F.col(text_col)
    n_chars = F.length(t).cast("double")
    alpha = (F.length(t) - F.length(F.translate(t, _ASCII_ALPHA, ""))).cast("double")
    spaces = (F.length(t) - F.length(F.translate(t, " ", ""))).cast("double")
    nonspace = F.length(F.translate(t, " \t\n\x0b\f\r", "")).cast("double")
    return df.select(
        id_col,
        F.round(alpha / F.nullif(n_chars, F.lit(0.0)), 4).alias("alpha_ratio"),
        F.round(spaces / F.nullif(n_chars, F.lit(0.0)), 4).alias("space_ratio"),
        F.round(nonspace / F.nullif(_n_tokens(t).cast("double"), F.lit(0.0)), 4).alias(
            "mean_token_len"
        ),
    )


def normalized_fp_col(text: Column) -> Column:
    """THE canonical normalized content fingerprint: md5 of the
    lowercased alphanumeric skeleton. Single definition — the batch
    fingerprint operator and the incremental novelty filter must stay
    bit-identical or incremental dedup stops matching history.

    The skeleton is built by extracting the [0-9A-Za-z]+ RUNS and
    joining them, not by regexp_replace-deleting the complement
    (r12 giant-document axis): the two are value-identical for every
    input (same chars in the same order; '' and NULL behave the
    same), but RegExpReplace pays per-match overhead on every deleted
    char run — ~7x slower on a ~2 MB mostly-non-alnum document —
    while extract_all touches each matched run once."""
    return F.md5(
        F.lower(F.array_join(F.regexp_extract_all(text, F.lit("[0-9A-Za-z]+"), F.lit(0)), ""))
    )


def normalized_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Case/punctuation-insensitive content fingerprint (md5 of the
    lowercased alphanumeric skeleton)."""
    return df.select(id_col, normalized_fp_col(F.col(text_col)).alias("norm_fp"))


#: (language, stopwords) pairs scored in order; first match wins.
_LANG_MARKERS: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "and")),
    ("de", ("der", "und")),
    ("es", ("el", "los")),
    ("fr", ("le", "les")),
)


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic stopword-marker language ID, added as
    ``predicted_lang``. A real pipeline would swap in an n-gram profile
    model (e.g. fastText via a Pandas UDF); the contract — text in, ISO
    code out, fully distributed — is the same."""
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    expr = F.lit("und")
    # build from the last marker backwards so evaluation order matches
    # the declared first-match-wins priority
    for lang, words in reversed(_LANG_MARKERS):
        cond = F.lit(False)
        for w in words:
            cond = cond | padded.contains(f" {w} ")
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return df.withColumn("predicted_lang", expr)


def word_ngrams(tokens: Column, n: int) -> Column:
    """Array of space-joined word ``n``-grams from a token-array
    column, built shuffle-free by zipping ``n`` shifted slices of the
    array (no self-join, no UDF). Shorter-than-``n`` documents yield
    an empty array.

    ``tokens`` should be a plain column reference (not an inline
    ``split(...)`` expression): it is referenced ``n+1`` times here,
    which keeps CollapseProject from inlining an expensive expression
    into the lambda (see the MinHash recompute note in dedup.py).
    """
    m = F.greatest(F.size(tokens) - (n - 1), F.lit(0))
    grams = F.slice(tokens, F.lit(1), m)
    for i in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(tokens, F.lit(i + 1), m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return grams


def ngram_phrase_counts(df: DataFrame, n: int = 2) -> DataFrame:
    """Corpus n-gram (word) frequency over the ``text`` column: one row
    per distinct n-word phrase with its corpus count.

    The per-document phrase list is built shuffle-free
    (``word_ngrams``); the single shuffle is the partial-aggregable
    phrase count — the shape that survives a 100 TB corpus (map-side
    combine does most of the counting).
    """
    w = split_words(F.col("text"))
    base = df.select(w.alias("w"))
    return (
        base.select(F.explode(word_ngrams(F.col("w"), n)).alias("phrase"))
        .groupBy("phrase")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def cooccurrence_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_vocab: int | None = None,
) -> DataFrame:
    """Document-level token co-occurrence with pointwise mutual
    information — the association statistic behind embedding-training
    corpora (word2vec/GloVe co-occurrence matrices) and collocation
    mining.

    Presence sets (distinct tokens per document, built shuffle-free
    with ``array_distinct``) feed a self-equi-join on the document id
    with ``tok_a < tok_b``; pair and marginal counts are both
    partial-aggregable, and the marginal/total frames are
    vocabulary-sized and 1-row, so their joins broadcast. PMI =
    ``ln(P(a,b) / (P(a) P(b)))`` with probabilities over documents.

    Identity-keyed (r11 duplicate-key axis): "document" means a
    DISTINCT ``id_col`` — presence is a property of the document, so
    replayed-CDC duplicate rows (bit-identical copies of an id) must
    not inflate marginals, pair counts, or N. The input is deduped
    per id BEFORE the explode: the dedup's exchange is on the same
    key the self-join repartitions by, so it REPLACES the join-side
    shuffle instead of adding one (a distinct on the exploded
    (id, token) frame would key on both columns and force a second
    per-side exchange — measured 2x slower at sf0.1). NULL ids are
    excluded before the dedup (engine NULL-identity policy, same as
    dedup.py's span operators): dropDuplicates pools all NULL-id
    rows into ONE arbitrary representative while a SQL DISTINCT
    (doc_id, tok) unions tokens across every NULL-id row — with two
    differing NULL-id texts the engines would diverge on marginals
    and N. A document without an identity is not a document. N
    counts distinct non-NULL ids on the raw input (zero-token
    documents count, as before; count_distinct never counted NULL).
    Rows sharing an id with CONFLICTING text are upstream
    corruption, out of contract (an arbitrary copy wins).

    Scale: cost is Σ_d |V_d|² on the pair join. ``max_vocab`` is the
    bound (r12 giant-document axis — one 175k-distinct-token crawl
    document is ~1.5e10 pairs, measured unbounded): each document's
    presence set is capped to its ``max_vocab`` tokens with the
    SMALLEST md5 — a deterministic uniform sample of the vocabulary
    that both engines order identically (md5 hex is pure ASCII).
    Raw-token order would ALSO agree on this engine — measured r13:
    Spark's default UTF8_BINARY collation compares UTF-8 bytes
    exactly like DuckDB, including astral-plane tokens
    (tests/test_float_key_parity.py pins it; the r12 note claiming a
    UTF-16-code-unit divergence was wrong for Spark 4.x) — but the
    md5 order is kept: it is a vocabulary-skew-independent uniform
    SAMPLE, and it stays correct under non-default Spark collations.
    The cap is applied to the presence array per row (shuffle-free
    struct sort + slice), so marginals, pair counts, and PMI all see
    the same capped universe; documents under the cap are unaffected.
    ``None`` keeps the exact unbounded semantics.
    """
    arr = F.array_distinct(split_words(F.col(text_col)))
    if max_vocab is not None:
        arr = F.transform(
            F.slice(
                F.array_sort(
                    F.transform(arr, lambda t: F.struct(F.md5(t).alias("h"), t.alias("t")))
                ),
                1,
                max_vocab,
            ),
            lambda s: s["t"],
        )
    # Materialization barrier (r15, guide §1.2): the presence table
    # feeds the marginal aggregation and BOTH self-join sides, and the
    # static plan re-ran the scan + id-dedup + explode for every
    # reference (5 corpus scans observed, counting the twice-planned
    # marginal). The checkpointed frame is (id, tok) — the same rows
    # every downstream shuffle already carries.
    toks = (
        df.select(F.col(id_col), F.col(text_col))
        .filter(F.col(id_col).isNotNull())
        .dropDuplicates([id_col])
        .select(F.col(id_col), F.explode(arr).alias("tok"))
        .localCheckpoint(eager=False)
    )
    n_docs = df.agg(F.count_distinct(F.col(id_col)).cast("double").alias("_nd"))
    # vocabulary-sized; tok_a and tok_b broadcast it through one
    # reused exchange, so it is aggregated once without a barrier
    marg = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("_c"))
    a, b = toks.alias("a"), toks.alias("b")
    pairs = (
        a.join(b, (F.col(f"a.{id_col}") == F.col(f"b.{id_col}")) & (F.col("a.tok") < F.col("b.tok")))
        .groupBy(F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    ma = F.broadcast(marg.select(F.col("tok").alias("tok_a"), F.col("_c").alias("_ca")))
    mb = F.broadcast(marg.select(F.col("tok").alias("tok_b"), F.col("_c").alias("_cb")))
    return (
        pairs.join(ma, "tok_a")
        .join(mb, "tok_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            F.round(
                F.log(F.col("n_ab").cast("double") * F.col("_nd") / (F.col("_ca") * F.col("_cb"))),
                4,
            ).alias("pmi"),
        )
    )


def repetition_stats(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals per ``doc_id``, over the
    ``text`` column:

    - ``n_tokens`` — whitespace token count;
    - ``distinct_token_ratio`` — type/token ratio (low = repetitive);
    - ``top_token_frac`` — share of the single most frequent token
      (the "fraction of most common word" filter);
    - ``dup_bigram_frac`` — fraction of word bigrams that are
      repeats of an earlier bigram in the same document.

    Everything is a per-row JVM fold over the token array — zero
    shuffles, linear in document length, embarrassingly parallel at
    any corpus size. The most-frequent-token count comes from a
    single pass over the *sorted* token array (run-length fold with a
    struct accumulator) rather than a per-document groupBy, so no
    (doc, token) shuffle exists at all.
    """
    toks = split_words(F.col("text"))
    base = df.select("doc_id", toks.alias("w"))
    w = F.col("w")
    n_tok = F.size(w).cast("bigint")

    # longest run in the sorted array == count of the most frequent
    # token; one O(n) fold, accumulator is (prev, run, best)
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
    )

    def _step(acc: Column, t: Column) -> Column:
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        return F.struct(
            t.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top_cnt = F.aggregate(F.array_sort(w), zero, _step, lambda acc: acc["best"])

    bi = word_ngrams(w, 2)
    n_bi = F.size(bi).cast("double")
    dup_bi = F.when(
        F.size(bi) == 0, F.lit(0.0)
    ).otherwise(F.lit(1.0) - F.size(F.array_distinct(bi)).cast("double") / n_bi)

    denom = F.nullif(n_tok.cast("double"), F.lit(0.0))
    return base.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(F.size(F.array_distinct(w)).cast("double") / denom, 4).alias(
            "distinct_token_ratio"
        ),
        F.round(top_cnt.cast("double") / denom, 4).alias("top_token_frac"),
        F.round(dup_bi, 4).alias("dup_bigram_frac"),
    )


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Top-``k`` TF-IDF terms per ``doc_id`` over the ``text`` column
    (score = tf × ln(N/df)).

    Plan shape for scale: one explode + partial-aggregable (doc, term)
    count, then a *local checkpoint* of that vocab-sized frame —
    Spark does not share common subplans across DAG branches, so
    without it the corpus would be re-scanned and re-exploded for the
    document-frequency rollup (verified via the executed plan). Both
    the df rollup and N (count of docs with ≥1 token) derive from the
    checkpointed counts: exactly one pass over the corpus bytes. The
    df-join is a plain equi-join on the term (AQE broadcasts it when
    the vocabulary is small); the top-k window partitions on the
    document — bounded by per-doc vocabulary, never corpus size.
    """
    toks = split_words(F.col("text"))
    tf = (
        df.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        # lazy: materializes with the first action, cached partitions
        # feed every branch below; freed by the ContextCleaner when
        # the result frame is dropped
        .localCheckpoint(eager=False)
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df_t"))
    n_docs = tf.select(F.count_distinct(F.col("doc_id")).cast("double").alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df_t")), 4).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
