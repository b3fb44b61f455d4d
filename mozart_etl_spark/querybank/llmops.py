"""Beyond-reference LLM-data-pipeline operators as registered queries.

These wrap the transformers in ``mozart_etl_spark.operators`` so each
one has a driver-checkable entry: exact dedup, n-gram Jaccard near-dup,
MinHash-LSH (rows-only — approximate by nature), text analysis
(tokens / quality / language-ID / fingerprint), and embedding
similarity search.

Scale notes: all of these are shuffle-bounded DataFrame plans — no
driver collects. The Jaccard self-join is shingle-bucketed (join key =
shingle) and caps per-shingle fanout; MinHash-LSH replaces the exact
join with banded signature buckets, which is the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from ..operators import dedup as dedup_ops
from ..operators import multimodal as mm_ops
from ..operators import similarity as sim_ops
from ..operators import text as text_ops
from . import WORDS_SQL, register

#: Embedding dimensionality of the testdata `embeddings` table
#: (TESTDATA.md: array<float> of fixed length 64 at every SF). Passed
#: as a plan-build parameter so no driver-side job runs to discover it;
#: production callers pass their own dim exactly like `lsh_knn` does.
_EMBEDDING_DIM = 64

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    tags=("dedup", "documents"),
    doc="Exact dedup by content fingerprint: md5 over the raw text, "
    "keep the lowest doc_id per fingerprint. Distributed hash "
    "aggregation — at 100 TB this is one shuffle on a 128-bit key.",
    oracle="""
        SELECT md5(text)          AS fp,
               CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
               count(*)           AS n_copies
        FROM documents
        GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dedup_ops.exact_dedup(docs)


@register(
    "dedup_ngram_jaccard",
    tags=("dedup", "documents", "join"),
    doc="Exact n-gram Jaccard near-duplicate pairs: 3-gram word "
    "shingles, inverted-index self-join on shingle, Jaccard from "
    "intersection and set sizes; top-20 most similar pairs. This is "
    "the exact oracle that MinHash-LSH approximates — and it is the "
    "SMALL-CORPUS twin by design: scoring every co-shingled pair is "
    "inherently Omega(sum df^2) over the shingle df distribution "
    "(~13x/decade at the sf1.0 stress bench; df-capping cannot bind "
    "on low-vocabulary corpora without destroying signal). At scale, "
    "generate candidates with MinHash-LSH and "
    "verify exactly on candidates only (jaccard_verify_pairs) — the "
    "certified edge chain of dedup_components/dedup_canonical.",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, {WORDS_SQL} AS w
            FROM documents
        ), sh AS (
            -- per-element concat, NOT array_to_string(w[i:i+2], ' '):
            -- a list SLICE inside a lambda re-materializes per
            -- element in DuckDB (O(n²) on a giant document's 175k
            -- tokens — measured unbounded), while element access is
            -- O(1) on the list vector (r12 giant-document axis)
            SELECT DISTINCT doc_id, shingle
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(w) - 1),
                             i -> w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)]
                                  || ' ' || w[CAST(i + 2 AS INT)])) AS shingle
                  FROM words)
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
        FROM pairs
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        ORDER BY CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) DESC, doc_a, doc_b
        LIMIT 20
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    pairs = dedup_ops.ngram_jaccard_pairs(docs, n=3)
    return pairs.orderBy(F.desc("_raw_jaccard"), F.asc("doc_a"), F.asc("doc_b")).limit(20).drop(
        "_raw_jaccard"
    )


# The 64 seeded affine-permutation parameters (a, b) of the MinHash
# family, injected verbatim into the DuckDB oracle as a VALUES table —
# the signature math is deterministic integer arithmetic, so the whole
# chain (shingle hash -> permutation minima -> band hash -> bucket
# self-join -> est_jaccard) is bit-reproducible cross-engine once the
# hash function is portable (r12 verdict item #1).
_MINHASH_PERMS_SQL = ",\n            ".join(
    f"({i}, {a}, {b})"
    for i, (a, b) in enumerate(dedup_ops._permutation_params(64, seed=42))
)


@register(
    "dedup_minhash_lsh",
    tags=("dedup", "documents", "approx"),
    doc="MinHash + LSH banding near-dup candidates (the 100 TB path: "
    "no all-pairs join, candidates only from shared LSH buckets, "
    "then exact-Jaccard verification of candidates). The operator uses "
    "the portable 60-bit md5-prefix shingle/band hash, "
    "so the ENTIRE chain is value-checked against the DuckDB oracle "
    "below — everything downstream of the hash is pure int64 math "
    "(affine permutation minima mod 2^31-1, band-hash equality, "
    "match-count ratio), so the comparison is bit-exact, no float "
    "tolerance anywhere. The certified dedup_components/"
    "dedup_canonical chain signs with xxhash64 (JVM-native, faster); "
    "its arrow/JVM bit-identity stays pinned in "
    "tests/test_dedup_hash_properties.py. "
    "est_jaccard = k/64 is exactly representable in binary (64 is a "
    "power of two), and both engines round doubles half-away-from-"
    "zero, so round(.,4) agrees even at the reachable exact 4dp "
    "half-points (6/64=0.09375, 18/64=0.28125).",
    oracle=f"""
        WITH perms(pid, a, b) AS (VALUES
            {_MINHASH_PERMS_SQL}
        ), d AS (
            SELECT doc_id,
                   {WORDS_SQL} AS w
            FROM documents
        ), sh AS (
            -- distinct 3-word shingle hashes per doc: 60-bit md5
            -- prefix reduced mod the Mersenne prime 2^31-1 (the
            -- portable twin of the Spark side's expression)
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       generate_series(1, len(w) - 2),
                       i -> ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT
                            % 2147483647
                   ))) AS h
            FROM d
            WHERE len(w) >= 3
        ), sig AS (
            -- signature component pid = min over shingles of the
            -- affine map (a*h + b) mod p ; a,h < 2^31 so the product
            -- stays inside BIGINT
            SELECT doc_id, pid, min((a * h + b) % 2147483647) AS s
            FROM sh CROSS JOIN perms
            GROUP BY doc_id, pid
        ), bandh AS (
            -- 16 bands of r=4 rows; band hash = the same portable
            -- 60-bit md5 prefix over the comma-joined component values
            SELECT doc_id, pid // 4 AS band_id,
                   ('0x' || substr(md5(string_agg(s::VARCHAR, ',' ORDER BY pid)), 1, 15))::BIGINT
                       AS band_hash
            FROM sig
            GROUP BY doc_id, pid // 4
        ), pairs AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM bandh x
            JOIN bandh y
              ON x.band_id = y.band_id AND x.band_hash = y.band_hash
             AND x.doc_id < y.doc_id
        )
        SELECT p.doc_a, p.doc_b,
               round(sum(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) / 64.0, 4) + 0.0
                   AS est_jaccard
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.doc_a
        JOIN sig sb ON sb.doc_id = p.doc_b AND sb.pid = sa.pid
        GROUP BY p.doc_a, p.doc_b
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    return dedup_ops.minhash_lsh_pairs(docs, n=3, num_perm=64, bands=16)


@register(
    "dedup_simhash",
    tags=("dedup", "documents", "approx"),
    doc="SimHash fingerprint per document (token hashes vote per bit, "
    "every occurrence counts; the fingerprint sets each bit with a "
    "positive vote). Near-dups share fingerprints within small "
    "Hamming distance. Tokens hash with the portable 60-bit "
    "md5-prefix hash both engines compute identically, "
    "so the fingerprint (bits 60-63 always clear — every token votes "
    "-1 there) is value-checked bit-exactly by the DuckDB oracle — "
    "pure integer votes, no tolerance. Vote ties (v=0) clear the bit on "
    "both sides (strictly-positive test: a bit is set iff "
    "2*count(bit set) > n_tokens); NULL text -> NULL fingerprint, "
    "empty token list -> 0. The oracle is ROW-FAITHFUL (list lambdas, "
    "no doc_id join or group): duplicate-id and NULL-id rows "
    "fingerprint per row exactly like the Spark side, so the "
    "duplicate-key and NULL-id variant profiles cannot split the "
    "engines.",
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   CASE WHEN text IS NULL THEN NULL
                        ELSE list_transform(
                                {WORDS_SQL},
                                t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)
                   END AS hs
            FROM documents
        )
        SELECT doc_id,
               CASE WHEN hs IS NULL THEN NULL
                    WHEN len(hs) = 0 THEN 0
                    ELSE CAST(list_sum(list_transform(generate_series(0, 59),
                             b -> CASE WHEN 2 * len(list_filter(hs, h -> (h >> b) & 1 = 1)) > len(hs)
                                       THEN (1::BIGINT << b) ELSE 0::BIGINT END)) AS BIGINT)
               END AS simhash
        FROM d
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    return dedup_ops.simhash(docs)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    tags=("text", "documents"),
    doc="Token counting (whitespace tokenization) + char stats per doc.",
    oracle=f"""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               CAST(len({WORDS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    return text_ops.token_stats(docs)


@register(
    "text_quality_score",
    tags=("text", "documents"),
    doc="Quality heuristics: alphabetic ratio, whitespace ratio, mean "
    "token length — the standard pre-training corpus filters.",
    oracle=f"""
        SELECT doc_id,
               round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                     / nullif(length(text), 0), 4) AS alpha_ratio,
               round(CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
                     / nullif(length(text), 0), 4) AS space_ratio,
               round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                     / nullif(len({WORDS_SQL}), 0), 4)
                     AS mean_token_len
        FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    return text_ops.quality_score(docs)


@register(
    "text_fingerprint",
    tags=("text", "documents"),
    doc="Normalized document fingerprint: lowercase, strip non-word "
    "chars, md5 — robust to case/punctuation-only edits.",
    oracle="""
        SELECT doc_id,
               md5(lower(regexp_replace(text, '[^0-9A-Za-z]', '', 'g'))) AS norm_fp
        FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    return text_ops.normalized_fingerprint(docs)


@register(
    "text_lang_confusion",
    tags=("text", "documents"),
    doc="Heuristic language-ID (stopword n-gram scoring) vs labeled "
    "lang: confusion-matrix counts. The heuristic is deterministic "
    "and implemented identically in the SQL oracle.",
    oracle="""
        SELECT lang AS actual_lang,
               CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %'
                      OR ' ' || lower(text) || ' ' LIKE '% and %' THEN 'en'
                    WHEN ' ' || lower(text) || ' ' LIKE '% der %'
                      OR ' ' || lower(text) || ' ' LIKE '% und %' THEN 'de'
                    WHEN ' ' || lower(text) || ' ' LIKE '% el %'
                      OR ' ' || lower(text) || ' ' LIKE '% los %' THEN 'es'
                    WHEN ' ' || lower(text) || ' ' LIKE '% le %'
                      OR ' ' || lower(text) || ' ' LIKE '% les %' THEN 'fr'
                    ELSE 'und' END AS predicted_lang,
               count(*) AS n
        FROM documents
        GROUP BY 1, 2
    """,
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pred = text_ops.language_id(docs)
    return (
        pred.groupBy(F.col("lang").alias("actual_lang"), F.col("predicted_lang"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_bpe_token_stats",
    tags=("text", "documents"),
    doc="BPE-style pre-tokenization token counting: letter runs, digit "
    "runs, single punctuation marks (regexp in the Java/RE2 common "
    "subset so the oracle is exact).",
    oracle=r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
                   AS n_bpe_tokens
        FROM documents
    """,
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    return docs.select(
        "doc_id", text_ops.regex_token_count(F.col("text")).alias("n_bpe_tokens")
    )


@register(
    "text_stopword_ratio",
    tags=("text", "documents"),
    doc="Stopword-ratio quality feature: fraction of whitespace tokens "
    "in a fixed stopword set — the cheap fluency signal corpus "
    "filters use alongside alpha/space ratios.",
    oracle=rf"""
        SELECT doc_id,
               round(CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                          t -> list_contains(['the','and','of','to','a','in','is','it'], t)))
                          AS DOUBLE)
                     / nullif(len({WORDS_SQL}), 0),
                     4) AS stopword_ratio
        FROM documents
    """,
)
def text_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    return docs.select(
        "doc_id",
        F.round(text_ops.stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
    )


@register(
    "text_top_bigrams",
    tags=("text", "documents", "agg"),
    doc="Corpus bigram statistics: top-20 word bigrams by corpus "
    "frequency (ties broken by phrase). Per-document phrases come "
    "from zipping shifted slices of the token array — shuffle-free "
    "generation; the one shuffle is the partial-aggregable phrase "
    "count, then a top-k.",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, {WORDS_SQL} AS l
            FROM documents
        ), bi AS (
            SELECT unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2 FROM w
        )
        SELECT w1 || ' ' || w2 AS bigram, CAST(count(*) AS BIGINT) AS n
        FROM bi
        GROUP BY 1
        ORDER BY n DESC, bigram
        LIMIT 20
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    counts = text_ops.ngram_phrase_counts(docs)
    return (
        counts.orderBy(F.desc("n"), F.asc("phrase"))
        .limit(20)
        .select(F.col("phrase").alias("bigram"), "n")
    )


@register(
    "text_cooccurrence_pmi",
    tags=("text", "documents", "join", "agg"),
    doc="Token co-occurrence PMI over document presence sets — the "
    "association matrix behind embedding-training corpora. Distinct "
    "tokens per document self-equi-join on doc_id (tok_a < tok_b); "
    "marginal and total frames are vocabulary-sized/1-row and "
    "broadcast. PMI = ln(P(ab)/(P(a)P(b))) over documents, "
    "rounded to 4. Per-document presence sets are capped at the 512 "
    "tokens with the SMALLEST md5 (r12 giant-document axis): the "
    "pair join is Σ|V_d|² and one 175k-distinct-token document is "
    "~1.5e10 pairs — measured unbounded before the cap. The cap "
    "orders by md5 (ASCII hex, engine-identical) because it is a "
    "vocabulary-skew-independent uniform sample — not because raw "
    "token order diverges: measured r13, Spark's default UTF8_BINARY "
    "collation compares UTF-8 bytes exactly like DuckDB, astral "
    "planes included (the r12 UTF-16-code-unit claim was wrong for "
    "Spark 4.x; convergence pinned in tests/test_float_key_parity.py)."
    " Documents under 512 distinct tokens — the entire non-injected "
    "corpus — are bit-unaffected.",
    oracle=f"""
        WITH x AS (
            -- NULL-id rows excluded (engine NULL-identity policy:
            -- a document without an identity is not a document)
            SELECT doc_id, unnest({WORDS_SQL}) AS tok
            FROM documents
            WHERE doc_id IS NOT NULL
        ), t AS (
            -- presence set capped at the 512 smallest-md5 tokens per
            -- document (r12 giant-document bound, engine-identical
            -- ordering key; ties impossible below md5 collision)
            SELECT doc_id, tok FROM (
                SELECT doc_id, tok,
                       row_number() OVER (PARTITION BY doc_id ORDER BY md5(tok), tok) AS _rn
                FROM (SELECT DISTINCT doc_id, tok FROM x WHERE tok <> '')
            ) WHERE _rn <= 512
        ), nd AS (
            -- N = distinct documents (r11 duplicate-key contract:
            -- replayed duplicate id rows are the same document)
            SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS _nd FROM documents
        ), m AS (
            SELECT tok, CAST(count(*) AS DOUBLE) AS _c FROM t GROUP BY tok
        )
        SELECT a.tok AS tok_a, b.tok AS tok_b,
               CAST(count(*) AS BIGINT) AS n_ab,
               round(ln(CAST(count(*) AS DOUBLE) * any_value(nd._nd)
                        / (any_value(ma._c) * any_value(mb._c))), 4) AS pmi
        FROM t a
        JOIN t b ON a.doc_id = b.doc_id AND a.tok < b.tok
        JOIN m ma ON ma.tok = a.tok
        JOIN m mb ON mb.tok = b.tok
        CROSS JOIN nd
        GROUP BY a.tok, b.tok
    """,
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return text_ops.cooccurrence_pmi(docs)


@register(
    "text_rolling_hash",
    tags=("text", "documents"),
    doc="Rabin-Karp polynomial rolling-hash fingerprint over the "
    "character stream, as a single JVM-side fold (no UDF). Same "
    "base/mod arithmetic in the DuckDB oracle via list_reduce.",
    oracle="""
        SELECT doc_id,
               CAST(CASE WHEN text IS NULL THEN NULL
                    WHEN length(text) = 0 THEN 0
                    ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
                                                  list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
                                     (acc, c) -> (acc * 31 + c) % 2147483647)
                    END AS BIGINT) AS roll_fp
        FROM documents
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    return docs.select("doc_id", text_ops.rolling_hash(F.col("text")).alias("roll_fp"))


@register(
    "text_repetition_stats",
    tags=("text", "documents", "quality"),
    doc="Gopher-style repetition filters per document: type/token "
    "ratio, most-frequent-token share, duplicate-bigram fraction. "
    "Spark side is a zero-shuffle per-row fold (most-frequent-token "
    "count = longest run of the sorted token array — no (doc, token) "
    "shuffle exists); the oracle computes the same statistics the "
    "relational way (unnest + group) to pin the semantics. Per-row "
    "MAP contract (r11 duplicate-key axis): row in, row out — a "
    "replayed duplicate id row gets its own identical stats row; the "
    "oracle discriminates rows with a per-id row_number so its "
    "unnest+group never pools the copies' tokens.",
    oracle=f"""
        WITH w AS (
            -- rid: per-row discriminator so the relational unnest
            -- aggregates per INPUT ROW like the operator's per-row
            -- fold (r11 duplicate-key axis: replayed duplicate id
            -- rows each get their own identical stats row — a
            -- doc_id-keyed GROUP BY would pool the copies' tokens).
            -- The rid assignment among exact copies is arbitrary but
            -- the copies are bit-identical, so output is stable.
            SELECT doc_id, row_number() OVER (PARTITION BY doc_id) AS rid,
                   text IS NULL AS no_text,
                   {WORDS_SQL} AS l
            FROM documents
        ), tc AS (
            SELECT doc_id, rid, CAST(sum(c) AS BIGINT) AS n,
                   count(*) AS nd, max(c) AS topc
            FROM (
                SELECT doc_id, rid, t, count(*) AS c
                FROM (SELECT doc_id, rid, unnest(l) AS t FROM w)
                GROUP BY doc_id, rid, t
            )
            GROUP BY doc_id, rid
        ), bc AS (
            SELECT doc_id, rid, count(*) AS nb,
                   count(DISTINCT w1 || ' ' || w2) AS nbd
            FROM (
                SELECT doc_id, rid, unnest(l[1:len(l)-1]) AS w1,
                       unnest(l[2:len(l)]) AS w2
                FROM w
            )
            GROUP BY doc_id, rid
        )
        -- LEFT JOIN tc: a zero-token document still gets its row
        -- (n_tokens 0, NULL ratios), matching the operator which
        -- emits one row per input ROW. A NULL text is NOT a
        -- zero-token text: SQL-NULL-faithful stats are all NULL
        -- (the operator's behavior), so the zero-coalesces apply
        -- only when text is present.
        SELECT w.doc_id,
               CASE WHEN w.no_text THEN NULL ELSE coalesce(tc.n, 0) END AS n_tokens,
               round(tc.nd / CAST(tc.n AS DOUBLE), 4) AS distinct_token_ratio,
               round(tc.topc / CAST(tc.n AS DOUBLE), 4) AS top_token_frac,
               CASE WHEN w.no_text THEN NULL
                    ELSE round(coalesce(1.0 - bc.nbd / CAST(bc.nb AS DOUBLE), 0.0), 4)
               END AS dup_bigram_frac
        FROM w
        LEFT JOIN tc USING (doc_id, rid)
        LEFT JOIN bc USING (doc_id, rid)
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    return text_ops.repetition_stats(docs)


@register(
    "text_tfidf_top_terms",
    tags=("text", "documents", "agg", "window"),
    doc="Top-3 TF-IDF terms per document (score = tf × ln(N/df)). "
    "One explode + partial-aggregable (doc, term) count; document "
    "frequency is a rollup of that result (no corpus re-scan); N is "
    "a broadcast 1-row aggregate; the top-k window partitions by "
    "document, bounded by per-doc vocabulary at any corpus size.",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, unnest({WORDS_SQL}) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM tok GROUP BY doc_id, term
        ), dfq AS (
            SELECT term, count(*) AS df_t FROM tf GROUP BY term
        ), n AS (
            -- N = docs with >= 1 token (the operator's documented
            -- semantics) — count(*) FROM documents would diverge the
            -- moment a whitespace-only document appears
            SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf
        ), s AS (
            SELECT tf.doc_id, tf.term, tf.tf,
                   round(tf.tf * ln(n.n_docs / dfq.df_t), 4) AS score
            FROM tf JOIN dfq USING (term) CROSS JOIN n
        ), r AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term
            ) AS rn
            FROM s
        )
        SELECT doc_id, term, tf, score FROM r WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    return text_ops.tfidf_top_terms(docs)


# ---------------------------------------------------------------------------
# Embedding similarity search
# ---------------------------------------------------------------------------


@register(
    "knn_bruteforce_cosine",
    tags=("similarity", "embeddings", "join"),
    doc="Brute-force cosine top-k: first 10 vectors as queries against "
    "the full table (self-match excluded). All arithmetic in DOUBLE; "
    "similarity rounded to 4dp, ties broken by neighbor id. At scale "
    "this becomes a broadcast of the query set over a partitioned "
    "candidate scan — see operators/similarity.py for the IVF/LSH "
    "variant that avoids the full scan. Corrupt (NaN- or "
    "±Inf-poisoned) vectors are excluded on both sides (similarity.py "
    "corrupt-vector policy): both engines order NaN above every real "
    "number, so one corrupt candidate would outrank every genuine "
    "neighbor in every query's top-k — in BOTH engines, which is why "
    "only an explicit policy (not the oracle diff) catches it; an Inf "
    "component reaches the same NaN at the cosine division (Inf/Inf). "
    "NULL vectors are excluded from both sides too (r10, found by the "
    "±Inf edges sweep: the norm-form Spark guard drops a NULL norm "
    "while the old oracle kept the row and emitted k all-NULL-cosine "
    "rows for it — a row with no embedding supports no similarity "
    "score, so exclusion is the contract on both sides; vectors with "
    "NULL elements are UNDEFINED across the pair, as in lsh_banded: "
    "DuckDB's list_dot_product errors on them, Spark's fold drops "
    "them as NULL norms). Ragged (wrong-length) vectors are excluded "
    "on both sides too (r12 shape class, dim=64): a ragged query "
    "would emit k NULL-cosine rows in Spark while list_dot_product "
    "errors the whole oracle — the one class where the engines "
    "don't even agree on returning.",
    oracle="""
        WITH casted AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
            WHERE embedding IS NOT NULL
              AND len(embedding) = 64
              AND coalesce(NOT list_aggregate(
                      list_transform(embedding,
                          x -> isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) > 1.3407807929942596e154),
                      'bool_or'), TRUE)
        ), q AS (
            SELECT vec_id AS query_id, v AS qv FROM casted WHERE vec_id < 10
        ), scored AS (
            SELECT query_id, c.vec_id AS neighbor_id,
                   list_dot_product(qv, c.v)
                     / nullif(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(c.v, c.v)), 0)
                     AS cos_raw
            FROM q CROSS JOIN casted c
            WHERE c.vec_id <> query_id
        ), ranked AS (
            SELECT query_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rn
            FROM scored
            WHERE cos_raw IS NULL OR isfinite(cos_raw)
        )
        SELECT query_id, neighbor_id, round(cos_raw, 4) + 0.0 AS cosine
        FROM ranked WHERE rn <= 5
    """,
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings", fan_out=True)
    queries = emb.filter(F.col("vec_id") < 10)
    return sim_ops.brute_force_knn(queries, emb, k=5, dim=_EMBEDDING_DIM)


def _plane_values_sql(n_planes: int, n_tables: int, dim: int = 64, seed: int = 42) -> str:
    """The seeded random-hyperplane family as a DuckDB VALUES table
    ``(pid, tbl, wt, plane DOUBLE[])`` — injected verbatim into the
    LSH oracles (r12 verdict item #1). ``repr(float)`` is the
    shortest exact decimal, so DuckDB parses back the identical
    doubles; table/weight layout matches lsh_banded's arrow kernel
    (global plane index i -> table i//n_planes, bit weight
    2^(i % n_planes))."""
    rows = []
    pid = 0
    for t in range(n_tables):
        for p in sim_ops._hyperplanes(dim, n_planes, seed + t):
            vals = ", ".join(repr(float(x)) for x in p)
            rows.append(f"({pid}, {t}, {1 << (pid % n_planes)}, [{vals}]::DOUBLE[])")
            pid += 1
    return ",\n            ".join(rows)


#: sqrt(DBL_MAX) — the similarity module's finite-overflow guard
#: boundary, verbatim in the oracle SQL (keep identical to
#: operators/similarity.py _OVERFLOW).
_OVF = "1.3407807929942596e154"


@register(
    "knn_lsh_cosine",
    tags=("similarity", "embeddings", "approx"),
    doc="Multi-table LSH cosine top-k (random hyperplane signs; 4 "
    "planes x 8 tables tuned for this near-uniform synthetic data — "
    "real near-dup corpora support more planes): candidates only from "
    "shared buckets — the 100 TB-to-100 TB similarity-join path that "
    "avoids the full cross product. Oracled since r13: the 32 seeded "
    "hyperplanes are injected as a VALUES table and the oracle "
    "replays banding -> bucket join -> exact rescore -> top-k. The "
    "rescoring dot is a sequential left fold on BOTH sides (Spark "
    "aggregate/zip_with, DuckDB list_dot_product) — bit-identical "
    "doubles, so cosine values carry no cross-engine tolerance. The "
    "single approximation in the comparison: Spark's arrow banding "
    "computes projections as a numpy matmul, which may reorder "
    "additions vs the oracle's sequential fold — a bucket-bit can "
    "differ only for a projection within ~1 ulp of 0 (never observed; "
    "the recall floor stays property-pinned in "
    "tests/test_knn_properties.py). NULL vectors band to all-zero "
    "buckets on the Spark side but are excluded here: a NULL-norm "
    "endpoint never survives the rescore inner join, and a pair "
    "cannot be CREATED by a third vector, so exclusion is "
    "output-equivalent. Duplicate-row fanout is mirrored (per-row "
    "banding via a row tag; rescore joins fan out per copy on both "
    "sides).",
    oracle=f"""
        WITH planes(pid, tbl, wt, plane) AS (VALUES
            {_plane_values_sql(n_planes=4, n_tables=8)}
        ), base AS (
            -- entry guards mirrored from lsh_knn: corrupt components
            -- (NaN / +-Inf / finite-overflow) and ragged lengths
            -- excluded; NULL vectors excluded (output-equivalent, see
            -- doc); rid tags physical rows so duplicate rows band
            -- independently exactly as Spark rows do
            SELECT row_number() OVER () AS rid, vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
            WHERE embedding IS NOT NULL
              AND len(embedding) = 64
              AND coalesce(NOT list_aggregate(
                      list_transform(embedding,
                          x -> isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) > {_OVF}),
                      'bool_or'), TRUE)
        ), banded AS (
            SELECT rid, vec_id, p.tbl AS table_id,
                   SUM(CASE WHEN list_dot_product(v, p.plane) >= 0
                              OR isnan(list_dot_product(v, p.plane))
                            THEN p.wt ELSE 0 END) AS bucket
            FROM base CROSS JOIN planes p
            GROUP BY rid, vec_id, p.tbl
        ), pairs AS (
            SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
            FROM banded q
            JOIN banded c ON q.table_id = c.table_id AND q.bucket = c.bucket
            WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
        ), qv AS (
            SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM base
            WHERE isfinite(sqrt(list_dot_product(v, v)))
        ), scored AS (
            SELECT p.query_id, p.neighbor_id,
                   list_dot_product(a.v, b.v) / nullif(a.n * b.n, 0) AS cos_raw
            FROM pairs p
            JOIN qv a ON a.vec_id = p.query_id
            JOIN qv b ON b.vec_id = p.neighbor_id
        ), ranked AS (
            SELECT query_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC NULLS LAST,
                                               neighbor_id ASC NULLS FIRST) AS rn
            FROM scored
            WHERE coalesce(isfinite(cos_raw), TRUE)
        )
        SELECT query_id, neighbor_id, round(cos_raw, 4) + 0.0 AS cosine
        FROM ranked WHERE rn <= 5
    """,
)
def knn_lsh_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim_ops.lsh_knn(queries, emb, dim=_EMBEDDING_DIM, k=5)


def _jaccard_edges(docs: DataFrame) -> DataFrame:
    """The certified at-scale Jaccard>=0.5 edge generator shared by
    dedup_components / dedup_canonical (measured against the exact
    edge set in r6; banding re-resolved r7 after the sf10
    second-decade probe): MinHash-LSH candidate pairs banded at
    minhash_lsh_params(0.5) -> (num_perm=90, bands=30, r=3) — a true
    j=0.5 pair collides in >=1 of the 30
    3-row bands with probability 0.982 (vs 0.645 at the r6-measured
    16x4 config), while r=3 keeps the quadratic within-bucket
    enumeration of NON-pairs cubically damped: on the 500k-doc sf10
    stress corpus, r=2 banding enumerated 40.7M pre-dedup pairs (max
    bucket 879) where r=3 enumerates 437k (93x less) — low-vocabulary
    corpora make short bands collide on background agreement, and
    band LENGTH is the only knob that bounds it. Candidates are
    pre-filtered at est_jaccard>=0.35 (safely below the 0.5 verify
    threshold: the estimator's sd at 90 perms is ~0.05, so a true
    >=0.5 pair estimating below 0.35 is a ~3-sigma event), then EXACT
    Jaccard
    restricted to the candidates (jaccard_verify_pairs — approximation
    affects which pairs are scored, never a kept pair's value), then
    the exact >=0.5 threshold. Cost is linear in banding-bounded
    candidate volume (3.9x/decade at the sf1.0 stress bench) vs the
    inherent sum-df^2 of scoring every co-shingled pair (~13x/decade);
    measured output-identical to the exact edge set at every SF, and
    driver-certified against the exact recursive-CTE oracle.

    Stage 0 (r7): EXACT collapse before banding, fused into the
    signature pass (:func:`~..operators.similarity.label_representatives`
    holds the rationale). The signature pass also emits the text md5
    (``with_text_fp=True`` — same corpus scan); only REPRESENTATIVE
    signatures enter the band join, and collapsed members rejoin as
    star edges (identical text has jaccard exactly 1.0 to its
    representative). All collapse arithmetic runs on the checkpointed
    signature table — ids, signatures, and 16-byte fingerprints
    shuffle; text never does, and the corpus is still scanned exactly
    twice (signatures + verify). Since r14 the verify stage
    shingles only documents that appear in a candidate pair
    (jaccard_verify_pairs' candidate-doc semi-join prune — a shingle
    row of any other document cannot survive the doc_a/doc_b
    equi-joins, so exploding it is pure waste); candidates are
    rep-only and the exact jaccard of a rep pair is unchanged by the
    prune, bit-identically."""
    num_perm, bands = dedup_ops.minhash_lsh_params(0.5)
    sigs = sim_ops.label_representatives(
        dedup_ops.minhash_signatures(docs, num_perm=num_perm, with_text_fp=True), "doc_id", "_tfp"
    ).localCheckpoint(eager=False)
    star = sigs.filter(F.col("doc_id") != F.col("_rep_id")).select(
        F.col("_rep_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    rep_sigs = sigs.filter(F.col("_rn") == 1).select("doc_id", "sig")
    cand = (
        dedup_ops.signature_band_pairs(rep_sigs, num_perm, bands)
        .filter(F.col("est_jaccard") >= 0.35)
        .select("doc_a", "doc_b")
    )
    verified = dedup_ops.jaccard_verify_pairs(docs, cand)
    near = verified.filter(F.col("_raw_jaccard") >= 0.5).select("doc_a", "doc_b")
    return near.unionByName(star)


@register(
    "dedup_components",
    tags=("dedup", "documents", "iterative"),
    doc="Near-duplicate GROUPS from near-duplicate PAIRS: connected "
    "components over the Jaccard>=0.5 edge set by iterative "
    "min-label propagation (join + min-agg per round, localCheckpoint "
    "lineage truncation, driver carries only a 1-row convergence "
    "probe). The step every dedup pipeline needs before 'keep one per "
    "group'. Since r7 the CERTIFIED edge generator is the at-scale "
    "pipeline: MinHash-LSH candidates (banding-bounded, never "
    "all-co-shingled-pairs) -> exact Jaccard verification restricted "
    "to candidates (jaccard_verify_pairs) -> threshold — cost follows "
    "candidate volume, 3.9x/decade at the sf1.0 stress bench vs ~13x "
    "for the exact inverted-index scorer it replaced, with the "
    "IDENTICAL component rows at every measured SF. Oracle is a "
    "DuckDB recursive CTE over the EXACT >=0.5 edge set computing min "
    "reachable id — a hash match therefore certifies both that the "
    "iterative plan equals the fixpoint semantics AND that the "
    "LSH-candidate edge set loses no true edge on this corpus.",
    oracle=f"""
        WITH RECURSIVE words AS (
            SELECT doc_id, {WORDS_SQL} AS w
            FROM documents
        ), sh AS (
            -- per-element concat (r12 giant-document axis): a list
            -- slice inside a lambda is O(n²) per document in DuckDB,
            -- element access is O(1) — see dedup_ngram_jaccard
            SELECT DISTINCT doc_id, shingle
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(w) - 1),
                             i -> w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)]
                                  || ' ' || w[CAST(i + 2 AS INT)])) AS shingle
                  FROM words)
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), edges AS (
            SELECT doc_a, doc_b
            FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
                       JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
        ), und AS (
            SELECT doc_a AS a, doc_b AS b FROM edges
            UNION SELECT doc_b, doc_a FROM edges
        ), reach(node, lab) AS (
            SELECT a, a FROM und
            UNION
            SELECT u.b, r.lab FROM reach r JOIN und u ON u.a = r.node
        )
        SELECT node, min(lab) AS component FROM reach GROUP BY node
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dedup_ops.connected_components(_jaccard_edges(docs))


@register(
    "dedup_canonical",
    tags=("dedup", "documents", "iterative"),
    doc="The 'keep one per group' step after grouping: for every "
    "near-duplicate component (connected components over the "
    "Jaccard>=0.5 edge set — since r7 generated by the certified "
    "at-scale MinHash-LSH -> jaccard_verify_pairs pipeline, see "
    "dedup_components), elect the best-quality representative — "
    "longest document wins, doc_id breaks ties — and report group "
    "size. Since r10 this is a TOTAL-COVERAGE keep-list "
    "(connected_components nodes= option, r9 verdict): every "
    "document outside the edge set is its own singleton component "
    "(n_members=1, canonical=itself), so the output is exactly the "
    "set of documents a dedup pass KEEPS — a keep-list missing the "
    "singletons would silently drop every non-duplicated document. "
    "One join of the (node, component) labels to doc metadata + a "
    "component-keyed window; the label table is corpus-keyed, the "
    "window partitions are group-sized. Identity-keyed end to end "
    "(r11 duplicate-key axis): both the universe and the metadata "
    "join side collapse replayed duplicate id rows, so n_members "
    "counts DISTINCT documents and SUM(n_members) equals the "
    "distinct corpus size exactly (the sf1.0 identity probe). Oracle "
    "reuses the EXACT recursive-CTE fixpoint, the same singleton "
    "union (LEFT JOIN + coalesce), and the same election, so the "
    "hash match also certifies the LSH edge set's completeness on "
    "this corpus.",
    oracle=f"""
        WITH RECURSIVE words AS (
            SELECT doc_id, {WORDS_SQL} AS w
            FROM documents
        ), sh AS (
            -- per-element concat (r12 giant-document axis): a list
            -- slice inside a lambda is O(n²) per document in DuckDB,
            -- element access is O(1) — see dedup_ngram_jaccard
            SELECT DISTINCT doc_id, shingle
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(w) - 1),
                             i -> w[CAST(i AS INT)] || ' ' || w[CAST(i + 1 AS INT)]
                                  || ' ' || w[CAST(i + 2 AS INT)])) AS shingle
                  FROM words)
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), edges AS (
            SELECT doc_a, doc_b
            FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
                       JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
        ), und AS (
            SELECT doc_a AS a, doc_b AS b FROM edges
            UNION SELECT doc_b, doc_a FROM edges
        ), reach(node, lab) AS (
            SELECT a, a FROM und
            UNION
            SELECT u.b, r.lab FROM reach r JOIN und u ON u.a = r.node
        ), labeled AS (
            SELECT node, min(lab) AS component FROM reach GROUP BY node
        ), meta AS (
            -- identity-keyed (r11 duplicate-key axis): the keep-list
            -- universe is DISTINCT documents — replayed duplicate id
            -- rows are the same document and must not inflate
            -- n_members through join fan-out; max() mirrors the
            -- Spark side's deterministic payload collapse
            SELECT doc_id, max(n_chars) AS n_chars FROM documents
            WHERE doc_id IS NOT NULL GROUP BY doc_id
        ), total AS (
            SELECT d.doc_id AS node, coalesce(l.component, d.doc_id) AS component
            FROM meta d LEFT JOIN labeled l ON l.node = d.doc_id
        ), ranked AS (
            SELECT t.component,
                   t.node AS canonical_doc_id,
                   count(*) OVER (PARTITION BY t.component) AS n_members,
                   row_number() OVER (
                       PARTITION BY t.component
                       ORDER BY d.n_chars DESC, t.node
                   ) AS rn
            FROM total t JOIN meta d ON d.doc_id = t.node
        )
        SELECT component, canonical_doc_id, CAST(n_members AS BIGINT) AS n_members
        FROM ranked WHERE rn = 1
    """,
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    comps = dedup_ops.connected_components(
        _jaccard_edges(docs), nodes=docs.select("doc_id")
    )
    # identity-keyed metadata join (r11 duplicate-key axis): the
    # universe inside connected_components is already dropDuplicates'd,
    # so the metadata side must be too — a replayed duplicate document
    # row would otherwise fan this join out and inflate n_members.
    # max() keyed on the id keeps the collapse deterministic even for
    # out-of-contract conflicting payloads, and the aggregation's
    # exchange is on the join key (2-column projection, no text
    # shuffle).
    meta = (
        docs.select(F.col("doc_id").alias("node"), "n_chars")
        .filter(F.col("node").isNotNull())
        .groupBy("node")
        .agg(F.max("n_chars").alias("n_chars"))
    )
    joined = comps.join(meta, "node")
    wc = Window.partitionBy("component")
    wr = wc.orderBy(F.desc("n_chars"), F.asc("node"))
    return (
        joined.withColumn("n_members", F.count(F.lit(1)).over(wc).cast("bigint"))
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("component", F.col("node").alias("canonical_doc_id"), "n_members")
    )


@register(
    "dedup_embedding_lsh",
    tags=("dedup", "embeddings", "approx"),
    doc="Oracled since r13: the full staged chain — twin injection, "
    "identical-vector collapse to min-id representatives (+ cosine-1.0 "
    "star edges), auto-resolved banding, bucket cap, exact rescore — "
    "is replayed in the DuckDB SQL below. The oracle hard-codes the "
    "banding auto_lsh_params resolves for the DRIVER corpus: 520 "
    "post-collapse representatives (500 vectors + 20 scaled twins, "
    "zero identical-vector groups at both sf0.001 and sf0.01) -> "
    "(5 planes, 4 tables); any n in (512, 1024] resolves the "
    "same, so the edge-variant corpora stay inside the plane count "
    "(pinned in tests/test_llmops_queries.py). Collapse identity is "
    "grouped on an injective rendering of the double vector on both "
    "sides (Spark md5-of-cast-string / DuckDB CAST AS VARCHAR — "
    "different strings, same partition). Rescored cosines are "
    "sequential folds on both sides (bit-identical); the only "
    "cross-engine approximation is the arrow banding matmul's "
    "addition order (a bucket bit flips only within ~1 ulp of a zero "
    "projection — never observed, recall stays property-pinned). "
    "NULL vectors band to bucket 0 on both sides (NULL projection "
    "contributes no weight); their pairs die at the rescore "
    "threshold in both engines. "
    "Previous doc (still the operator story): Embedding "
    "near-duplicate pairs at scale — the PRIMARY "
    "embedding-dedup entry: LSH-bucketed candidate generation with "
    "banding resolved by auto_lsh_params (since r7: planes from "
    "corpus size so bucket occupancy stays "
    "~constant as the corpus grows, and tables from the threshold so "
    "pair recall >= 0.95 is preserved — the sf1.0 stress decade "
    "measured 1.8x/decade growth under auto vs 10.7x for the "
    "previously-certified fixed 6x6, identical 20-pair output) + "
    "exact cosine rescoring, unbounded input. Equi-join on (table_id, "
    "bucket); never an all-pairs join, so it survives 100x — the "
    "bounded all-pairs dedup_embedding_cosine is kept only as its "
    "exact oracle twin. Since r8 the chain also collapses identical "
    "vectors and caps buckets at 256 members — the "
    "giant-identical-cluster defense measured at sf10 in r7: "
    "value-identical vectors collapse to a min-id representative "
    "before banding (members rejoin as cosine-1.0 star edges, "
    "components provably unchanged) and any residual hot (table, "
    "bucket) beyond 256 members is dropped, bounding worst-case "
    "candidate volume; on the sf10 real corpus cap=64 already loses "
    "ZERO verified edges, and cap-only without collapse is the unsafe "
    "combination (one doc embedded 20k times: every bucket hot, "
    "cap-only silently loses the whole cluster, collapse+cap returns "
    "all 20k star edges faster). tests/test_lsh_bucket_cap.py pins "
    "its output bit-identical to an uncollapsed, uncapped Python model "
    "on the driver corpus. The staging's "
    "fixed cost is measured and accepted (AB_r09.json, config-level "
    "same-epoch A/B, both calib axes flat-or-favoring): 1.24x at "
    "sf0.1 (~0.55 s absolute), identical output — it amortizes with "
    "corpus size, 1.8x FASTER at the sf10 stress decade. "
    "The synthetic corpus has no pairs above ~0.52 cosine, so — like "
    "the exact twin — the input is augmented in-query with "
    "deterministically scaled twins (x -> 0.5*x, exact in fp) of the "
    "first 20 vectors: cosine(v, 0.5v) = 1, so the driver's rows-only "
    "check certifies real near-dup pairs instead of an empty result "
    "(a scaled twin projects to the SAME side of every hyperplane, so "
    "each (v, 0.5v) pair collides in every LSH table and the 20 "
    "injected pairs are a guaranteed-recall floor, asserted in "
    "tests/test_llmops_queries.py). Twin ids are vec_id + 100000 — "
    "the same convention as the exact twin's oracle — which assumes "
    "max(vec_id) < 100000; that holds for the bounded driver corpus "
    "(500 rows at every committed SF) the injection exists for, and "
    "the underlying operator takes no twins at all on real data.",
    oracle=f"""
        WITH planes(pid, tbl, wt, plane) AS (VALUES
            {_plane_values_sql(n_planes=5, n_tables=4)}
        ), inp AS (
            -- embeddings + the deterministically scaled twins (exact
            -- halving: double-multiply then float cast, all exact)
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
            UNION ALL
            SELECT vec_id + 100000,
                   list_transform(embedding,
                       x -> CAST(CAST(CAST(x AS DOUBLE) * 0.5 AS REAL) AS DOUBLE))
            FROM embeddings WHERE vec_id < 20
        ), keyed AS (
            -- collapse fingerprint: value-identity of the double
            -- vector for clean nonzero full-dimension vectors (the
            -- VARCHAR rendering is injective on doubles, incl. -0.0
            -- vs 0.0 — partition-equivalent to Spark's md5 of its own
            -- rendering); everything else stays a singleton
            SELECT vec_id, v,
                   CASE WHEN coalesce(sqrt(list_dot_product(v, v)) > 0
                             AND isfinite(sqrt(list_dot_product(v, v)))
                             AND len(v) = 64, FALSE)
                        THEN 'g:' || CAST(v AS VARCHAR)
                        ELSE '__solo__' || CAST(vec_id AS VARCHAR)
                   END AS vfp
            FROM inp
        ), reps AS (
            SELECT vec_id, v FROM (
                SELECT vec_id, v,
                       row_number() OVER (PARTITION BY vfp ORDER BY vec_id) AS rn
                FROM keyed
            ) WHERE rn = 1
        ), star AS (
            SELECT rep_id AS doc_a, vec_id AS doc_b FROM (
                SELECT vec_id, min(vec_id) OVER (PARTITION BY vfp) AS rep_id
                FROM keyed
            ) WHERE vec_id <> rep_id
        ), banded AS (
            -- reps are row-unique by construction, so no row tag is
            -- needed; dim guard mirrors lsh_banded (NULL vectors pass
            -- and band to bucket 0 — NULL projections add no weight)
            SELECT r.vec_id, p.tbl AS table_id,
                   SUM(CASE WHEN list_dot_product(r.v, p.plane) >= 0
                              OR isnan(list_dot_product(r.v, p.plane))
                            THEN p.wt ELSE 0 END) AS bucket
            FROM reps r CROSS JOIN planes p
            WHERE r.v IS NULL OR len(r.v) = 64
            GROUP BY r.vec_id, p.tbl
        ), capped AS (
            SELECT vec_id, table_id, bucket FROM (
                SELECT *, count(*) OVER (PARTITION BY table_id, bucket) AS bn
                FROM banded
            ) WHERE bn <= 256
        ), cand AS (
            SELECT DISTINCT a.vec_id AS doc_a, b.vec_id AS doc_b
            FROM capped a
            JOIN capped b ON a.table_id = b.table_id AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
        ), vecs AS (
            SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM reps
        ), rescored AS (
            SELECT c.doc_a, c.doc_b,
                   list_dot_product(va.v, vb.v) / nullif(va.n * vb.n, 0) AS cos_raw
            FROM cand c
            JOIN vecs va ON va.vec_id = c.doc_a
            JOIN vecs vb ON vb.vec_id = c.doc_b
        )
        SELECT doc_a, doc_b, round(cos_raw, 4) + 0.0 AS cosine
        FROM rescored WHERE cos_raw >= 0.95 AND NOT isnan(cos_raw)
        UNION ALL
        SELECT doc_a, doc_b, CAST(1.0 AS DOUBLE) AS cosine FROM star
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings", fan_out=True).select("vec_id", "embedding")
    # scaling by 0.5 is exact in binary fp, and cast back to float is
    # exact too (halving only decrements the exponent), so the twin's
    # projections are exactly half the original's — identical signs,
    # identical buckets, cosine exactly 1 after normalization
    twins = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform(
            F.col("embedding"), lambda x: (x * F.lit(0.5)).cast("float")
        ).alias("embedding"),
    )
    return sim_ops.lsh_near_dup_pairs(
        emb.unionByName(twins), dim=_EMBEDDING_DIM, threshold=0.95
    )


@register(
    "dedup_embedding_cosine",
    tags=("dedup", "embeddings", "join"),
    doc="Embedding-cosine near-duplicate pairs, exact oracle twin of "
    "dedup_embedding_lsh: all pairs with cosine >= 0.95 within the "
    "first 500 vectors — the ENTIRE embeddings table at the sf0.01 "
    "correctness gate, a bounded probe set beyond it, so the cross "
    "join stays oracle-checkable (unbounded inputs go through the LSH "
    "entry). "
    "The synthetic corpus has no pairs above ~0.52 cosine, so the "
    "probe set is augmented in-query with deterministically scaled "
    "twins (x -> 0.5*x, exact in fp) of the first 20 vectors — "
    "cosine(v, 0.5v) = 1, so the oracle actually exercises near-dup "
    "pairs instead of certifying an empty result. Pure JVM fold for "
    "the dot product; doc_a < doc_b; 4dp rounding.",
    oracle="""
        WITH casted AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
            -- ragged guard (r12 shape class): coalesce keeps NULL
            -- vectors for the NULL-norm policy below, exactly like
            -- the Spark side's drop_ragged_vectors
            WHERE vec_id < 500 AND coalesce(len(embedding) = 64, TRUE)
        ),
        aug AS (
            SELECT vec_id, v FROM casted
            UNION ALL
            SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x * 0.5) AS v
            FROM casted WHERE vec_id < 20
        ),
        -- NORM-form entry guard, mirroring the Spark side exactly: the
        -- component form misses accumulation overflow (every |x| <=
        -- sqrt(DBL_MAX), squared SUM = Inf), and DuckDB evaluates
        -- NaN >= 0.95 as TRUE, so an unguarded overflow vector would
        -- emit oracle-side fake pairs Spark excludes. isfinite(n) also
        -- drops NULL vectors and NULL elements (NULL norm) — the
        -- module NULL-vector policy, identical in both engines.
        base AS (
            SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n
            FROM aug
            WHERE isfinite(sqrt(list_dot_product(v, v)))
        )
        SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
               round(list_dot_product(a.v, b.v) / nullif(a.n * b.n, 0),
                     4) + 0.0 AS cosine
        FROM base a JOIN base b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / nullif(a.n * b.n, 0) >= 0.95
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = sim_ops.drop_ragged_vectors(
        table(spark, sf_dir, "embeddings", fan_out=True).filter(F.col("vec_id") < 500),
        "embedding",
        _EMBEDDING_DIM,
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    casted = emb.select(F.col("vec_id"), v.alias("v"))
    twins = casted.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"),
        F.transform(F.col("v"), lambda x: x * F.lit(0.5)).alias("v"),
    )
    # norms precomputed per VECTOR before the join (n sqrt-folds), not
    # per pair (n^2) — `v` is multi-referenced so CollapseProject keeps
    # the projection materialized instead of inlining it per use
    base = casted.unionByName(twins).withColumn(
        "n",
        F.sqrt(
            F.aggregate(
                F.zip_with("v", "v", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
            )
        ),
        # corrupt-vector policy (similarity.py): NaN >= 0.95 is TRUE in
        # both engines, so an unguarded poisoned vector would emit a
        # fake near-dup pair with every other vector; an Inf vector's
        # pair cosines are Inf/Inf = NaN with the same pathology (norm
        # form of the guard — Inf components force an Inf norm); NULL
        # norms (NULL vectors) already fail the threshold in both
    )
    # a per-vector filter: Catalyst inlines the norm fold into it, a
    # cost of n vectors, not of n^2 pairs
    base = base.filter(~F.isnan("n") & (F.col("n") != F.lit(float("inf"))))
    a = base.select(
        F.col("vec_id").alias("doc_a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = base.select(
        F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    cos_raw = dot / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0))
    # the threshold rides the join condition after the cheap id
    # conjunct, so the dim-length fold runs once per unordered pair
    # and once more only for the pairs kept
    return a.join(b, (F.col("doc_a") < F.col("doc_b")) & (cos_raw >= 0.95)).select(
        "doc_a", "doc_b", (F.round(cos_raw, 4) + F.lit(0.0)).alias("cosine")
    )


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------


@register(
    "multimodal_manifest",
    tags=("multimodal", "documents"),
    doc="Binary-payload plumbing: wrap text bytes as an opaque BINARY "
    "payload + typed media-metadata struct (the image/audio column "
    "convention) and report the manifest. The decode step is stubbed "
    "(no codec libs in this container); the schema/partitioning "
    "contract is real.",
    oracle="""
        SELECT doc_id,
               'blob' AS kind,
               CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes
        FROM documents
    """,
)
def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    mm = mm_ops.attach_binary_payload(docs, kind="blob")
    return mm.select(
        "doc_id", F.col("media.kind").alias("kind"), F.col("media.n_bytes").alias("n_bytes")
    )


@register(
    "multimodal_features",
    tags=("multimodal", "documents", "pandas-udf"),
    doc="Arrow-batched feature extraction over binary payloads via "
    "mapInPandas with a declared output schema — the real plumbing a "
    "decode/resize/embed stage uses; the featurizer body is a "
    "deterministic stub (byte-histogram moments: integer byte sums + "
    "one IEEE division, so the DuckDB oracle reproduces the doubles "
    "bit-exactly). The array column is posexploded to (doc_id, dim, "
    "feat_val) rows so the result is driver-canonicalizable.",
    oracle="""
        WITH p AS (
            -- rid: per-row discriminator (r11 duplicate-key axis) —
            -- the featurizer is a per-row MAP, so a replayed
            -- duplicate id row gets its own identical feature rows;
            -- grouping by doc_id alone would pool the copies' bytes.
            -- Hex CHAR LIST, not a hex string (r12 giant-document
            -- axis): per-byte substr(hx, 2i-1, 1) walks the UTF-8
            -- offset from the string start on every call — O(bytes²)
            -- per document, unbounded on a ~2 MB payload — while
            -- list element access is O(1) on the list vector.
            SELECT doc_id, row_number() OVER (PARTITION BY doc_id) AS rid,
                   string_split(hex(encode(coalesce(text, ''))), '') AS hc,
                   octet_length(encode(coalesce(text, ''))) AS n
            FROM documents
        ),
        bytes AS (
            SELECT doc_id, rid, n,
                   list_transform(range(1, CAST(n AS BIGINT) + 1),
                       i -> (strpos('0123456789ABCDEF', hc[CAST(2*i-1 AS INT)]) - 1) * 16
                            + (strpos('0123456789ABCDEF', hc[CAST(2*i AS INT)]) - 1)) AS bl
            FROM p
        ),
        b AS (
            SELECT doc_id, rid,
                   (u.i - 1) % 8 AS dim,
                   sum(u.v) AS s
            FROM bytes, LATERAL (SELECT unnest(bl) AS v,
                                        generate_subscripts(bl, 1) AS i) u
            GROUP BY doc_id, rid, (u.i - 1) % 8
        ),
        dims AS (SELECT unnest(generate_series(0, 7)) AS dim)
        SELECT p.doc_id,
               'blob' AS kind,
               CAST(p.n AS BIGINT) AS n_bytes,
               CAST(d.dim AS INTEGER) AS dim,
               CASE WHEN p.n = 0 THEN 0.0
                    ELSE COALESCE(CAST(b.s AS DOUBLE), 0.0) / (255.0 * p.n) END AS feat_val
        FROM p CROSS JOIN dims d
        -- NULL-safe id join (r14): a NULL doc_id row must find its
        -- own byte sums, mirroring the kernel's nullable-Int64 path
        LEFT JOIN b ON b.doc_id IS NOT DISTINCT FROM p.doc_id
                   AND b.rid = p.rid AND b.dim = d.dim
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    mm = mm_ops.attach_binary_payload(docs, kind="blob")
    feats = mm_ops.extract_features(mm)
    # the driver canonicalizer sorts all columns through pandas, which
    # cannot factorize list values — project the array<double> to one
    # row per dimension (the values themselves are untouched doubles)
    return feats.select(
        "doc_id", "kind", "n_bytes", F.posexplode("feat").alias("dim", "feat_val")
    )


@register(
    "multimodal_frame_sample",
    tags=("multimodal", "documents", "pandas-udf"),
    doc="Frame sampling over opaque video-like payloads (r13): split "
    "the byte stream into 256-byte frames, keep every 3rd (partial "
    "last frame included), one output row per sampled frame — the "
    "mapInPandas explode-shaped plumbing a real frame-sampler uses, "
    "with the decode stubbed (no codec libraries) and a "
    "position-weighted integer checksum sum((byte+1)*(pos+1)) as the "
    "per-frame statistic, so the DuckDB oracle certifies the sampled "
    "WINDOWS bit-exactly (byte values AND positions; the oracle "
    "walks the same hex-char byte list the featurizer oracle uses — "
    "list ops, O(n) per document on giants). Empty payloads (NULL "
    "text) emit zero frames on both sides; duplicate id rows emit "
    "their own frame rows (per-row map, rid discriminator in the "
    "oracle).",
    oracle="""
        WITH p AS (
            SELECT doc_id, row_number() OVER (PARTITION BY doc_id) AS rid,
                   string_split(hex(encode(coalesce(text, ''))), '') AS hc,
                   octet_length(encode(coalesce(text, ''))) AS n
            FROM documents
        ),
        bytes AS (
            SELECT doc_id, rid, n,
                   list_transform(range(1, CAST(n AS BIGINT) + 1),
                       i -> (strpos('0123456789ABCDEF', hc[CAST(2*i-1 AS INT)]) - 1) * 16
                            + (strpos('0123456789ABCDEF', hc[CAST(2*i AS INT)]) - 1)) AS bl
            FROM p
            WHERE n > 0
        ),
        fr AS (
            -- per-frame structs built BELOW the unnest (the r12
            -- giant-document copy hazard: exploding frame rows that
            -- each CARRY the full multi-megabyte byte list would
            -- materialize frames x n list elements — measured
            -- unbounded on the ~2 MB variant giants; this form is
            -- one O(n) pass per document)
            SELECT doc_id, rid,
                   list_transform(range(0, CAST((n + 255) // 256 AS BIGINT), 3),
                       fi -> struct_pack(fi := fi,
                                         nb := least(n, (fi + 1) * 256) - fi * 256,
                                         cs := list_sum(list_transform(
                                             range(1, least(n, (fi + 1) * 256) - fi * 256 + 1),
                                             j -> (bl[CAST(fi * 256 + j AS INT)] + 1) * j)))) AS frames
            FROM bytes
        )
        SELECT doc_id,
               CAST(u.f.fi AS BIGINT) AS frame_idx,
               CAST(u.f.nb AS BIGINT) AS n_bytes,
               CAST(u.f.cs AS BIGINT) AS checksum
        FROM fr, LATERAL (SELECT unnest(frames) AS f) u
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    mm = mm_ops.attach_binary_payload(docs, kind="video")
    return mm_ops.sample_frames(mm)


@register(
    "multimodal_resize_grid",
    tags=("multimodal", "documents", "pandas-udf"),
    doc="Resize plumbing over opaque image-like payloads (r13): "
    "downsample the byte stream onto a fixed 16-bucket grid (byte j "
    "-> bucket j*16//n, bucket value = mean byte / 255) via "
    "mapInPandas with a declared fixed-width output — the batch "
    "shape a real image resize uses, decode stubbed. Bucket means "
    "are exact integer sums + ONE IEEE division (bincount kernel), "
    "so the oracle compares bit-exactly. Empty payloads and empty "
    "buckets (payload shorter than the grid) are 0.0 on both sides; "
    "row-faithful under duplicate ids (rid discriminator). The "
    "thumb array is posexploded for driver canonicalizability.",
    oracle="""
        WITH p AS (
            SELECT doc_id, row_number() OVER (PARTITION BY doc_id) AS rid,
                   string_split(hex(encode(coalesce(text, ''))), '') AS hc,
                   octet_length(encode(coalesce(text, ''))) AS n
            FROM documents
        ),
        bytes AS (
            SELECT doc_id, rid, n,
                   list_transform(range(1, CAST(n AS BIGINT) + 1),
                       i -> (strpos('0123456789ABCDEF', hc[CAST(2*i-1 AS INT)]) - 1) * 16
                            + (strpos('0123456789ABCDEF', hc[CAST(2*i AS INT)]) - 1)) AS bl
            FROM p
            WHERE n > 0
        ),
        b AS (
            SELECT doc_id, rid,
                   ((u.i - 1) * 16) // n AS dim,
                   sum(u.v) AS s,
                   count(*) AS c
            FROM bytes, LATERAL (SELECT unnest(bl) AS v,
                                        generate_subscripts(bl, 1) AS i) u
            GROUP BY doc_id, rid, ((u.i - 1) * 16) // n
        ),
        dims AS (SELECT unnest(generate_series(0, 15)) AS dim)
        SELECT p.doc_id,
               CAST(p.n AS BIGINT) AS n_bytes,
               CAST(d.dim AS INTEGER) AS dim,
               CASE WHEN b.c IS NULL THEN 0.0
                    ELSE CAST(b.s AS DOUBLE) / (255.0 * b.c) END AS thumb_val
        FROM p CROSS JOIN dims d
        -- NULL-safe id join (r14): mirrors the kernel's nullable-
        -- Int64 NULL-id degradation
        LEFT JOIN b ON b.doc_id IS NOT DISTINCT FROM p.doc_id
                   AND b.rid = p.rid AND b.dim = d.dim
    """,
)
def multimodal_resize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    mm = mm_ops.attach_binary_payload(docs, kind="image")
    t = mm_ops.resize_payload_grid(mm)
    return t.select("doc_id", "n_bytes", F.posexplode("thumb").alias("dim", "thumb_val"))


@register(
    "knn_ivf_cosine",
    tags=("similarity", "embeddings", "approx"),
    doc="IVF-style ANN: per-label centroids as the coarse index, each "
    "query probes its nprobe=2 nearest cells, exact cosine scoring "
    "only within probed cells (equi-join on cell) — the inverted-file "
    "scale path where the scored fraction is nprobe/#cells. Oracled "
    "since r13: the whole chain — positional centroid means, probe "
    "ranking (cosine desc, cell asc tie-break), in-cell exact scoring, "
    "top-k — is plain SQL, no injected constants. Determinism note: "
    "the centroid is a float MEAN, so the two engines (and Spark "
    "run-to-run partial-aggregation order) may differ in the last "
    "ulp; probe and neighbor rankings would flip only on a "
    "~1e-15-relative tie, which random 64-dim data cannot produce "
    "(the same accepted risk class as the green embedding_centroids / "
    "knn_bruteforce_cosine). Rescoring dots are sequential folds on "
    "both sides — bit-identical.",
    oracle=f"""
        WITH casted AS (
            -- ragged guard (dim=64, NULL vectors pass — the NULL
            -- policy drops them at the norm filters downstream)
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
            WHERE coalesce(len(embedding) = 64, TRUE)
        ), cent AS (
            -- per-cell positional mean over component-clean vectors
            -- (ivf_centroids: corrupt components excluded, NULL
            -- elements tolerated — avg skips them in both engines)
            SELECT label AS cell, u.i AS dim, avg(u.x) AS cv
            FROM casted,
                 LATERAL (SELECT unnest(v) AS x,
                                 generate_subscripts(v, 1) AS i) u
            WHERE coalesce(NOT list_aggregate(
                      list_transform(v, x -> isnan(x) OR abs(x) > {_OVF}),
                      'bool_or'), TRUE)
            GROUP BY label, u.i
        ), centl AS (
            SELECT cell, list(cv ORDER BY dim) AS centroid FROM cent GROUP BY cell
        ), q AS (
            SELECT vec_id AS query_id, v AS qv,
                   sqrt(list_dot_product(v, v)) AS qn
            FROM casted WHERE vec_id < 10
        ), qok AS (
            SELECT * FROM q WHERE isfinite(qn)
        ), pc AS (
            SELECT qok.query_id, qok.qv, qok.qn, c.cell,
                   list_dot_product(qok.qv, c.centroid)
                     / nullif(qok.qn * sqrt(list_dot_product(c.centroid, c.centroid)), 0)
                       AS cent_cos
            FROM qok CROSS JOIN centl c
        ), probes AS (
            SELECT query_id, qv, qn, cell FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY cent_cos DESC NULLS LAST,
                                                      cell ASC NULLS FIRST) AS rn
                FROM pc WHERE coalesce(isfinite(cent_cos), TRUE)
            ) WHERE rn <= 2
        ), c AS (
            SELECT vec_id AS neighbor_id, v AS cv, label AS cell,
                   sqrt(list_dot_product(v, v)) AS cn
            FROM casted
        ), scored AS (
            SELECT p.query_id, c.neighbor_id,
                   list_dot_product(p.qv, c.cv) / nullif(p.qn * c.cn, 0) AS cos_raw
            FROM c JOIN probes p ON c.cell = p.cell
            WHERE c.neighbor_id <> p.query_id AND isfinite(c.cn)
        ), ranked AS (
            SELECT query_id, neighbor_id, cos_raw,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_raw DESC NULLS LAST,
                                               neighbor_id ASC NULLS FIRST) AS rn
            FROM scored
            WHERE coalesce(isfinite(cos_raw), TRUE)
        )
        SELECT query_id, neighbor_id, round(cos_raw, 4) + 0.0 AS cosine
        FROM ranked WHERE rn <= 5
    """,
)
def knn_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return sim_ops.ivf_knn(queries, emb, k=5, nprobe=2, dim=_EMBEDDING_DIM)


@register(
    "embedding_centroids",
    tags=("similarity", "embeddings", "agg"),
    doc="Per-label centroid, exploded to (label, dim, value) rows so "
    "the result is SQL-comparable. Position-wise mean over "
    "array<float> via posexplode + group — one shuffle. Corrupt "
    "(NaN/±Inf-poisoned) vectors are excluded from the mean on both "
    "sides (similarity.py corrupt-vector policy): one corrupt vector "
    "would turn its whole label's centroid NaN/Inf in BOTH engines, "
    "so only the explicit exclusion — not the oracle diff — protects "
    "the statistic. Rows with NULL elements stay in (coalesce TRUE): "
    "avg skips NULL elements identically in both engines. Ragged "
    "(wrong-length) vectors are excluded too (r12 shape class, "
    "dim=64): a truncated vector would otherwise mean into its "
    "leading dims only and an extended one would widen the centroid "
    "past the model dimension — consistently in both engines, which "
    "is again why only the policy protects the statistic.",
    oracle="""
        SELECT label,
               CAST(u.i - 1 AS INTEGER) AS dim,
               round(avg(CAST(u.x AS DOUBLE)), 4) + 0.0 AS centroid_val
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS x,
                             generate_subscripts(embedding, 1) AS i) u
        WHERE len(embedding) = 64
          AND coalesce(NOT list_aggregate(
                  list_transform(embedding,
                      x -> isnan(CAST(x AS DOUBLE)) OR abs(CAST(x AS DOUBLE)) > 1.3407807929942596e154),
                  'bool_or'), TRUE)
        GROUP BY label, u.i
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return (
        sim_ops.drop_corrupt_vectors(
            sim_ops.drop_ragged_vectors(emb, "embedding", _EMBEDDING_DIM), "embedding"
        )
        .select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        # `+ 0.0` normalizes IEEE negative zero (round(-1e-6, 4) -> -0.0)
        .agg((F.round(F.avg(F.col("x").cast("double")), 4) + F.lit(0.0)).alias("centroid_val"))
        .select("label", F.col("dim").cast("int").alias("dim"), "centroid_val")
    )


@register(
    "embedding_quantize_check",
    tags=("embeddings", "quantize"),
    doc="Int8 embedding quantization (symmetric, per-vector scale "
    "max|x|/127) — the 4x storage-compression pass embedding stores "
    "apply before serving. Zero-shuffle per-row folds; certified via "
    "integer checksums (sum and L1 of the quantized array), which are "
    "order-independent and exact, so the quantization arithmetic is "
    "value-hash-checked even though float arrays themselves are not "
    "hash-comparable. A corrupt (NaN- or ±Inf-poisoned) vector gets "
    "the same NULL-marked row (NULL scale, NULL checksums) a NULL "
    "input vector gets, on both sides (similarity.py corrupt-vector "
    "policy) — without the guard Spark's non-ANSI NaN→int cast emits "
    "garbage zeros while a SQL engine errors the whole query on "
    "CAST(NaN AS BIGINT); an Inf max-abs is sneakier: scale=Inf "
    "quantizes every finite component to a plausible-looking 0 in "
    "BOTH engines, silently corrupting the store.",
    oracle="""
        WITH q AS (
            SELECT vec_id,
                   -- nullif wraps the QUOTIENT (engine contract): a
                   -- subnormal raw_max underflows raw_max/127 to 0.0,
                   -- which must NULL-mark the row, not divide by zero
                   CASE WHEN isnan(raw_max) OR raw_max > 1.3407807929942596e154 THEN NULL
                        ELSE nullif(raw_max / 127.0, 0.0) END AS scale,
                   embedding
            FROM (
                SELECT vec_id,
                       list_aggregate(
                           list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                           'max') AS raw_max,
                       embedding
                FROM embeddings
            )
        )
        SELECT vec_id,
               round(scale, 6) AS scale_r,
               CASE WHEN scale IS NULL THEN NULL ELSE
                   CAST(list_aggregate(list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)), 'sum')
                        AS BIGINT) END AS q_sum,
               CASE WHEN scale IS NULL THEN NULL ELSE
                   CAST(list_aggregate(list_transform(embedding,
                        x -> abs(CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT))), 'sum')
                        AS BIGINT) END AS q_l1
        FROM q
    """,
)
def embedding_quantize_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import quantize_embeddings

    emb = table(spark, sf_dir, "embeddings")
    # the digests ride the same per-row Arrow kernel pass as the
    # quantization itself — the r9 three-interpreted-folds-per-row
    # shape was this round's one measured regression (AB_r10.json)
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        "q_sum",
        "q_l1",
    )


@register(
    "text_bigram_cross_entropy",
    tags=("text", "documents", "quality", "join"),
    doc="Perplexity-style quality scoring without a neural LM: each "
    "document's mean negative log-probability under the corpus's own "
    "bigram model, P(w2|w1) = c(w1 w2)/c(w1-as-prefix). Outlier "
    "documents (repetitive or out-of-distribution) score far from the "
    "corpus mean — the cheap statistical stand-in for model-based "
    "filtering. The corpus bigram counts are aggregated once and "
    "locally checkpointed (vocab-sized); the prefix counts are a "
    "rollup of that result; the per-document join is bigram-keyed "
    "(AQE broadcasts small vocabularies).",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, {WORDS_SQL} AS l
            FROM documents
        ), bi AS (
            SELECT doc_id, w1 || ' ' || w2 AS bigram, w1
            FROM (
                SELECT doc_id, unnest(l[1:len(l)-1]) AS w1, unnest(l[2:len(l)]) AS w2
                FROM w
            )
        ), c2 AS (
            SELECT bigram, CAST(count(*) AS DOUBLE) AS n2 FROM bi GROUP BY bigram
        ), c1 AS (
            SELECT split_part(bigram, ' ', 1) AS w1, sum(n2) AS n1
            FROM c2 GROUP BY 1
        )
        SELECT bi.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(-ln(c2.n2 / c1.n1)), 4) AS cross_entropy
        FROM bi JOIN c2 USING (bigram) JOIN c1 USING (w1)
        GROUP BY bi.doc_id
    """,
)
def text_bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    toks = text_ops.split_words(F.col("text"))
    bi = docs.select("doc_id", toks.alias("w")).select(
        "doc_id", F.explode(text_ops.word_ngrams(F.col("w"), 2)).alias("bigram")
    )
    # corpus model: aggregate once, checkpoint the vocab-sized counts
    # so the prefix rollup does not re-scan + re-explode the corpus
    c2 = (
        bi.groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("double").alias("n2"))
        .localCheckpoint(eager=False)
    )
    c1 = (
        c2.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .groupBy("w1")
        .agg(F.sum("n2").alias("n1"))
    )
    scored = (
        bi.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .join(c2, "bigram")
        .join(c1, "w1")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(F.avg(-F.log(F.col("n2") / F.col("n1"))), 4).alias("cross_entropy"),
    )
