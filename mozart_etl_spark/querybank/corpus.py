"""Corpus-preparation queries: sampling, shuffling, chunking, packing,
and skew-proof joins over the ``documents`` / ``events`` tables.

Every entry here is exact and deterministic — the sampling and shuffle
operators are keyed on ``md5(seed:id)``, which DuckDB computes
bit-identically, so even the "random" operators are hash-checkable
against the oracle. All are pure JVM column plans (no Python row
path); scale notes live on the operators
(``mozart_etl_spark/operators/corpus.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from ..operators import corpus as corpus_ops
from ..operators import text as text_ops
from . import WORDS_SQL, register

#: Stratum keep-fractions for the rebalancing demo: downsample the
#: dominant language hard, trim the runner-up, keep the tail.
_BALANCE = {"en": 0.25, "zh": 0.75}
_BALANCE_SEED = "bal0"
_SHUFFLE_SEED = "epoch1"
_CHUNK = 400
_PACK_BUDGET = 512

_EN_CUT = corpus_ops.fraction_threshold_hex(_BALANCE["en"])
_ZH_CUT = corpus_ops.fraction_threshold_hex(_BALANCE["zh"])


@register(
    "corpus_sample_balanced",
    tags=("corpus", "sampling", "documents"),
    doc="Deterministic stratified sampling for corpus rebalancing: "
    "downsample 'en' to 25% and 'zh' to 75%, keep other languages "
    "whole, keyed on md5(seed:doc_id) so the sample is reproducible "
    "across engines, re-runs, and cluster sizes. A pure filter — no "
    "shuffle, no RNG state, stable under task retries (unlike "
    "DataFrame.sample).",
    oracle=f"""
        SELECT doc_id, lang, source
        FROM documents
        WHERE substring(md5(concat('{_BALANCE_SEED}:', CAST(doc_id AS VARCHAR))), 1, 8)
              < CASE lang WHEN 'en' THEN '{_EN_CUT}'
                          WHEN 'zh' THEN '{_ZH_CUT}'
                          ELSE 'g' END
    """,
)
def corpus_sample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sampled = corpus_ops.sample_stratified(
        docs, id_col="doc_id", strata_col="lang", fractions=_BALANCE, seed=_BALANCE_SEED
    )
    return sampled.select("doc_id", "lang", "source")


@register(
    "corpus_shuffle_slice",
    tags=("corpus", "ordering", "documents"),
    doc="Deterministic global corpus shuffle: total order by "
    "md5(seed:doc_id) (ties broken by doc_id), first 100 rows of the "
    "epoch permutation. Spark plans the order as a range-partitioned "
    "distributed sort — the scalable layout pass for a 100 TB "
    "training epoch; a new seed is a new permutation.",
    oracle=f"""
        SELECT doc_id,
               substring(md5(concat('{_SHUFFLE_SEED}:', CAST(doc_id AS VARCHAR))), 1, 8)
                   AS shuffle_key
        FROM documents
        ORDER BY shuffle_key, doc_id
        LIMIT 100
    """,
)
def corpus_shuffle_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    ordered = corpus_ops.shuffle_order(docs, id_col="doc_id", seed=_SHUFFLE_SEED)
    return ordered.select("doc_id", "shuffle_key").limit(100)


_WEIGHTED_SEED = "wr1"
_WEIGHTED_K = 150
_CAP_SEED = "cap1"
_SOURCE_CAP = 15


@register(
    "corpus_weighted_sample",
    tags=("corpus", "sampling", "documents"),
    doc=f"Weighted sampling WITHOUT replacement (Efraimidis–Spirakis): "
    f"the {_WEIGHTED_K} documents with the largest ln(u)/n_chars "
    f"priority, u drawn deterministically from md5(seed:doc_id) — "
    f"longer documents are proportionally likelier, the sample is "
    f"exactly reproducible, and orderBy+limit compiles to "
    f"TakeOrderedAndProject (per-partition k-row heaps, no global "
    f"sort shuffle).",
    oracle=f"""
        WITH p AS (
            SELECT doc_id, lang, n_chars,
                   ln((CAST(concat('0x',
                         substring(md5(concat('{_WEIGHTED_SEED}:', CAST(doc_id AS VARCHAR))), 1, 8))
                       AS BIGINT) + 0.5) / 4294967296.0) / n_chars AS pri
            FROM documents
        )
        SELECT doc_id, lang, n_chars, round(pri, 4) + 0.0 AS priority
        FROM p
        ORDER BY pri DESC, doc_id
        LIMIT {_WEIGHTED_K}
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    sampled = corpus_ops.sample_weighted_topk(
        docs, id_col="doc_id", weight_col="n_chars", k=_WEIGHTED_K, seed=_WEIGHTED_SEED
    )
    # + 0.0 canonicalizes IEEE -0.0 (round of a tiny negative priority)
    # to +0.0 on both engines so the value hash is stable
    return sampled.select(
        "doc_id", "lang", "n_chars", (F.round("priority", 4) + F.lit(0.0)).alias("priority")
    )


@register(
    "corpus_source_cap",
    tags=("corpus", "sampling", "documents"),
    doc=f"Per-source document cap (web-crawl domain balancing): keep at "
    f"most {_SOURCE_CAP} documents per source, members chosen by "
    f"deterministic md5 hash order so the cap is reproducible. Runs "
    f"the salted two-level shape (the 100 TB setting): a per-"
    f"(source, salt) top-{_SOURCE_CAP} prune bounds any hot domain "
    f"across 8 reducers before the global per-source window ranks "
    f"the survivors — output identical to the unsalted form (rn "
    f"included; see cap_per_group), so the oracle is the plain "
    f"single-window SQL and the driver certifies the salted path "
    f"hash-exactly.",
    oracle=f"""
        WITH r AS (
            SELECT doc_id, source,
                   CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY substring(md5(concat('{_CAP_SEED}:', CAST(doc_id AS VARCHAR))), 1, 8),
                                doc_id
                   ) AS BIGINT) AS rn
            FROM documents
        )
        SELECT doc_id, source, rn FROM r WHERE rn <= {_SOURCE_CAP}
    """,
)
def corpus_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    capped = corpus_ops.cap_per_group(
        docs, group_col="source", id_col="doc_id", cap=_SOURCE_CAP,
        seed=_CAP_SEED, salt_buckets=8,
    )
    return capped.select("doc_id", "source", "rn")


@register(
    "corpus_chunks",
    tags=("corpus", "chunking", "documents"),
    doc=f"Context-window preparation: split each document into "
    f"contiguous {_CHUNK}-char chunks, one output row per chunk "
    f"(final chunk may be short; empty documents yield none). "
    f"posexplode over a generated index — no UDF, whole-stage "
    f"codegen keeps it JVM-side. Both sides chunk via ONE "
    f"regexp_extract_all piece pass per document (r12 giant-document "
    f"axis): per-chunk substring(text, offset, size) is O(L²/size) "
    f"per document in BOTH engines — the UTF-8 char-offset walk.",
    oracle=f"""
        WITH p AS (
            -- one linear piece pass per document; unnesting the
            -- finished chunks (not an index beside the full text)
            -- keeps each output row at chunk size — unnest duplicates
            -- sibling columns per element, the same giant-document
            -- copy hazard as Spark's GenerateExec
            SELECT doc_id, regexp_extract_all(text, '(?s).{{1,{_CHUNK}}}') AS chunks
            FROM documents
        )
        SELECT doc_id,
               CAST(u.i - 1 AS BIGINT) AS chunk_id,
               u.c AS chunk_text,
               CAST(length(u.c) AS BIGINT) AS chunk_len
        FROM p, LATERAL (SELECT unnest(chunks) AS c,
                                generate_subscripts(chunks, 1) AS i) u
    """,
)
def corpus_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return corpus_ops.chunk_documents(docs, id_col="doc_id", text_col="text", size=_CHUNK)


_OV_SIZE, _OV_STRIDE = 120, 80
# The overlap oracle below concatenates exactly TWO consecutive stride
# pieces per window (pieces[i] || coalesce(pieces[i+1], '')), which is
# correct only while a window spans at most 2 stride pieces. The Spark
# operator is generic; if the constants ever change so that
# ceil(size/stride) > 2, the oracle must grow a third concat term.
assert -(-_OV_SIZE // _OV_STRIDE) == 2, (
    "corpus_chunks_overlap oracle hardcodes a 2-piece window: "
    f"ceil({_OV_SIZE}/{_OV_STRIDE}) != 2 — extend the oracle concat"
)


@register(
    "corpus_chunks_overlap",
    tags=("corpus", "chunking", "documents"),
    doc=f"Sliding-window chunking with overlap (size {_OV_SIZE}, stride "
    f"{_OV_STRIDE}): a window starts at every stride multiple below the "
    f"text length, so consecutive chunks share {_OV_SIZE - _OV_STRIDE} "
    f"chars of context — the RAG-style chunking variant. Same "
    f"posexplode-over-sequence plan as corpus_chunks: generated "
    f"columns, no UDF, no shuffle. Both sides window via stride-sized "
    f"regexp pieces (r12 giant-document axis — per-window "
    f"substring(text, offset, size) is O(L²/stride) per document in "
    f"both engines): a window is the {_OV_SIZE}-prefix of its two "
    f"consecutive pieces, byte-identical to the offset form.",
    oracle=f"""
        WITH p AS (
            SELECT doc_id, regexp_extract_all(text, '(?s).{{1,{_OV_STRIDE}}}') AS pieces
            FROM documents
        ), c AS (
            -- chunk list built per document BELOW the unnest (the
            -- same copy-hazard shape as the Spark side); element
            -- access inside the lambda is O(1) on the list vector
            SELECT doc_id,
                   list_transform(range(1, len(pieces) + 1),
                       i -> substring(pieces[CAST(i AS INT)]
                                          || coalesce(pieces[CAST(i + 1 AS INT)], ''),
                                      1, {_OV_SIZE})) AS chunks
            FROM p
        )
        SELECT doc_id,
               CAST(u.i - 1 AS BIGINT) AS chunk_id,
               u.c AS chunk_text,
               CAST(length(u.c) AS BIGINT) AS chunk_len
        FROM c, LATERAL (SELECT unnest(chunks) AS c,
                                generate_subscripts(chunks, 1) AS i) u
    """,
)
def corpus_chunks_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return corpus_ops.chunk_documents(
        docs, id_col="doc_id", text_col="text", size=_OV_SIZE, stride=_OV_STRIDE
    )


@register(
    "corpus_pack_sequences",
    tags=("corpus", "packing", "documents", "window"),
    doc=f"Greedy contiguous sequence packing: each document joins the "
    f"training sequence its cumulative token offset falls in "
    f"(budget {_PACK_BUDGET} whitespace tokens), packed per language "
    f"stream. One window scan per stream; unbounded corpora pass a "
    f"hash bucket as the stream so no window partition grows with "
    f"corpus size.",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang,
                   CAST(len({WORDS_SQL})
                        AS BIGINT) AS n_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, lang, n_tokens,
                   sum(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING
                   ) AS cum
            FROM t
        )
        SELECT doc_id, lang, n_tokens,
               CAST(floor((cum - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS seq_id
        FROM c
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", text_ops._n_tokens(F.col("text")).alias("n_tokens")
    )
    packed = corpus_ops.pack_sequences(
        toks, stream_col="lang", order_col="doc_id", token_col="n_tokens",
        budget=_PACK_BUDGET,
    )
    return packed.select("doc_id", "lang", "n_tokens", "seq_id")


@register(
    "corpus_clean",
    tags=("corpus", "pipeline", "dedup", "documents"),
    doc="The end-to-end corpus-cleaning pass a pre-training pipeline "
    "runs: quality gate (alphabetic ratio >= 0.6, length >= 100 chars) "
    "then exact near-dup removal keeping one representative per "
    "normalized fingerprint (lowercased alphanumeric skeleton md5, "
    "earliest doc_id wins). Filter + one fingerprint-keyed window — "
    "two scans' worth of work, one shuffle.",
    oracle="""
        WITH f AS (
            SELECT doc_id, lang, n_chars,
                   md5(lower(regexp_replace(text, '[^0-9A-Za-z]', '', 'g'))) AS norm_fp
            FROM documents
            WHERE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                  / nullif(length(text), 0) >= 0.6
              AND n_chars >= 100
        ), r AS (
            SELECT doc_id, lang, n_chars,
                   row_number() OVER (PARTITION BY norm_fp ORDER BY doc_id) AS rn
            FROM f
        )
        SELECT doc_id, lang, n_chars FROM r WHERE rn = 1
    """,
)
def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    t = F.col("text")
    # translate-deletion count + run-extraction fingerprint (r12
    # giant-document axis): value-identical to the regexp_replace
    # strips but without the per-match overhead — see
    # operators.text.quality_score / normalized_fp_col
    alpha_ratio = (
        F.length(t) - F.length(F.translate(t, text_ops._ASCII_ALPHA, ""))
    ).cast("double") / F.nullif(F.length(t), F.lit(0))
    norm_fp = text_ops.normalized_fp_col(t)
    gated = docs.filter((alpha_ratio >= 0.6) & (F.col("n_chars") >= 100)).select(
        "doc_id", "lang", "n_chars", norm_fp.alias("norm_fp")
    )
    w = Window.partitionBy("norm_fp").orderBy("doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "corpus_temperature_mix",
    tags=("corpus", "sampling", "documents"),
    doc="Temperature-based mixture resampling (τ=0.7, budget 50%): "
    "keep each source with probability ∝ n_s^(τ-1), flattening "
    "dominant sources toward the n_s^τ mixture — the standard LLM "
    "data-mixture reweighting. Keep fractions are computed from the "
    "source counts in-plan and compared as fixed-point hex "
    "thresholds against md5(seed:doc_id), so this data-dependent "
    "sample is still bit-deterministic and oracle-hash-checkable. "
    "NULL-stratum policy (r9 orphan-FK axis): docs with an unknown "
    "source are a real stratum — counted, temperature-weighted, and "
    "kept like any named source via a NULL-safe join-back in BOTH "
    "engines (a plain equi-join silently deleted them from the mix).",
    oracle="""
        WITH c AS (
            SELECT source, CAST(count(*) AS DOUBLE) AS n_s
            FROM documents GROUP BY source
        ), t AS (
            SELECT sum(n_s) AS n_total, sum(pow(n_s, 0.7)) AS z FROM c
        ), thr AS (
            SELECT source,
                   CASE WHEN least(1.0, pow(n_s, 0.7) / z * 0.5 * n_total / n_s) >= 1.0
                        THEN 'g'
                        ELSE printf('%08x', CAST(floor(
                             least(1.0, pow(n_s, 0.7) / z * 0.5 * n_total / n_s)
                             * 4294967296.0) AS BIGINT))
                   END AS h
            FROM c, t
        )
        SELECT d.doc_id, d.source, d.lang
        FROM documents d JOIN thr ON d.source IS NOT DISTINCT FROM thr.source
        WHERE substring(md5(concat('mix0:', CAST(doc_id AS VARCHAR))), 1, 8) < thr.h
    """,
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    mixed = corpus_ops.sample_temperature(
        docs, id_col="doc_id", stratum_col="source", seed="mix0", tau=0.7, budget_frac=0.5
    )
    return mixed.select("doc_id", "source", "lang")


_PII_EMAIL, _PII_PHONE = corpus_ops.PII_PATTERNS


@register(
    "corpus_pii_scrub",
    tags=("corpus", "pii", "documents"),
    doc="C4-style PII scrub: redact email/phone spans with typed tags "
    "and count redactions per document. Deterministic contact strings "
    "are appended first so the scrub provably fires on every row. "
    "Pure regexp column expressions — zero shuffles, linear per row, "
    "whole-stage codegen over all 100 TB. Patterns are the ASCII-safe "
    "common subset of Java regex and RE2, so the oracle applies "
    "identical semantics.",
    oracle="""
        WITH d AS (
            SELECT doc_id,
                   text || ' contact doc' || CAST(doc_id AS VARCHAR)
                        || '@example.com or call 555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
            FROM documents
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(t, '{email}', '<EMAIL>', 'g'),
                              '{phone}', '<PHONE>', 'g') AS clean_text,
               CAST(len(regexp_extract_all(t, '{email}')) AS BIGINT) AS n_email,
               CAST(len(regexp_extract_all(t, '{phone}')) AS BIGINT) AS n_phone
        FROM d
    """.replace("{email}", _PII_EMAIL[0]).replace("{phone}", _PII_PHONE[0]),
)
def corpus_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    synth = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact doc"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    return corpus_ops.scrub_pii(synth, text_col="t").select(
        "doc_id", "clean_text", "n_email", "n_phone"
    )


@register(
    "corpus_decontaminate",
    tags=("corpus", "dedup", "documents", "join"),
    doc="Benchmark decontamination: flag training documents sharing "
    "any word 5-gram with a held-out benchmark set (source 'src0' "
    "stands in). Shingles are generated shuffle-free per row "
    "(zip-shifted slices); the overlap check is a distinct-shingle "
    "equi-join — never all-pairs — and AQE broadcasts the benchmark "
    "side when it is small. The shape used to decontaminate a "
    "pre-training corpus against eval sets at any scale.",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, source, {WORDS_SQL} AS l
            FROM documents
        ), s AS (
            SELECT doc_id, source,
                   w1 || ' ' || w2 || ' ' || w3 || ' ' || w4 || ' ' || w5 AS shingle
            FROM (
                SELECT doc_id, source,
                       unnest(l[1:len(l)-4]) AS w1, unnest(l[2:len(l)-3]) AS w2,
                       unnest(l[3:len(l)-2]) AS w3, unnest(l[4:len(l)-1]) AS w4,
                       unnest(l[5:len(l)])   AS w5
                FROM w
            )
        ), bench AS (
            SELECT DISTINCT shingle FROM s WHERE source = 'src0'
        ), cand AS (
            SELECT DISTINCT doc_id, shingle FROM s WHERE source <> 'src0'
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_shingles
        FROM cand JOIN bench USING (shingle)
        GROUP BY doc_id
    """,
)
def corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents", fan_out=True)
    # drop phantom empty tokens from boundary \n/\t (Spark trim strips
    # only ASCII spaces) — mirrors the oracle's list_filter(t <> '')
    toks = text_ops.split_words(F.col("text"))
    shingled = docs.select("doc_id", "source", toks.alias("w")).select(
        "doc_id",
        "source",
        # the shingle is only ever a join/distinct KEY (never output):
        # hash it to its 16-byte md5 so both distincts and the
        # benchmark join shuffle fingerprints, not 5-word strings —
        # same 100 TB treatment as the span/shingle dedup operators
        F.explode(
            F.transform(
                text_ops.word_ngrams(F.col("w"), 5), lambda s: F.unhex(F.md5(s))
            )
        ).alias("shingle"),
    )
    bench = shingled.filter(F.col("source") == "src0").select("shingle").distinct()
    cand = (
        shingled.filter(F.col("source") != "src0").select("doc_id", "shingle").distinct()
    )
    return (
        cand.join(bench, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit_shingles"))
    )


@register(
    "events_key_skew_profile",
    tags=("events", "agg", "diagnostics"),
    doc="Join-key skew profiler — the diagnostic run before any big "
    "join to decide between plain, salted, and AQE-skew strategies: "
    "per-key cardinalities reduced to count/max/percentiles and a "
    "skew ratio (max/mean). Two partial-aggregable shuffles, output "
    "is one row regardless of input size.",
    oracle="""
        WITH k AS (
            SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
        )
        SELECT CAST(count(*) AS BIGINT)  AS n_keys,
               CAST(sum(cnt) AS BIGINT)  AS n_events,
               CAST(max(cnt) AS BIGINT)  AS max_key_events,
               round(quantile_cont(cnt, 0.50), 4) AS p50_key_events,
               round(quantile_cont(cnt, 0.99), 4) AS p99_key_events,
               round(max(cnt) * count(*) / CAST(sum(cnt) AS DOUBLE), 4) AS skew_ratio
        FROM k
    """,
)
def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    return per_key.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.max("cnt").cast("bigint").alias("max_key_events"),
        F.round(F.expr("percentile(cnt, 0.50)"), 4).alias("p50_key_events"),
        F.round(F.expr("percentile(cnt, 0.99)"), 4).alias("p99_key_events"),
        F.round(
            F.max("cnt") * F.count(F.lit(1)) / F.sum("cnt").cast("double"), 4
        ).alias("skew_ratio"),
    )


@register(
    "events_salted_enrich",
    tags=("events", "join", "skew"),
    doc="Skew-proof fact-to-dim enrichment: events salted per ROW "
    "(pmod(hash(event_id), 8)), customer replicated 8 ways, join on "
    "(key, salt) then aggregate — a hot user_id spreads over 8 "
    "reducers instead of one straggler. Result provably equals the "
    "plain join (the oracle IS the plain join). Static counterpart to "
    "AQE skew-split for plans where the skewed side must stay "
    "co-partitioned.",
    oracle="""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 2)     AS total_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c_mktsegment
    """,
)
def events_salted_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = corpus_ops.salted_join(
        ev, cust, fact_key="user_id", dim_key="c_custkey",
        fact_row_id="event_id", n_salts=8,
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@register(
    "corpus_incremental_dedup",
    tags=("corpus", "dedup", "documents", "incremental"),
    doc="Continuous-ingestion novelty filter: the new batch (doc_id "
    ">= 250 stands in for today's crawl) is deduped against the "
    "already-accepted corpus (doc_id < 250) by normalized content "
    "fingerprint, plus first-per-fingerprint within the batch itself. "
    "The synthetic corpus has no fingerprint collisions across the "
    "split, so the batch is augmented in-query with deterministic "
    "replays: 10 history docs re-ingested under new ids (must be "
    "dropped by the anti-join) and 5 within-batch copies (must be "
    "dropped by first-per-fp) — both drop paths are hash-certified. "
    "At scale the history side is a compact 16-byte-per-doc "
    "fingerprint store (never the text), the anti-join shuffles "
    "fingerprints only, and bucketing the store on fp makes it "
    "one-sided — see operators/dedup.py:novel_documents.",
    oracle="""
        WITH fps AS (
            SELECT doc_id, lang, n_chars,
                   md5(lower(regexp_replace(text, '[^0-9A-Za-z]', '', 'g'))) AS fp
            FROM documents
        ), aug AS (
            SELECT doc_id, lang, n_chars, fp FROM fps WHERE doc_id >= 250
            UNION ALL
            SELECT doc_id + 10000, lang, n_chars, fp FROM fps WHERE doc_id < 10
            UNION ALL
            SELECT doc_id + 20000, lang, n_chars, fp
            FROM fps WHERE doc_id >= 250 AND doc_id < 255
        ), batch AS (
            SELECT doc_id, lang, n_chars, fp,
                   row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
            FROM aug
        )
        SELECT b.doc_id, b.lang, b.n_chars
        FROM batch b
        WHERE b.rn = 1
          AND NOT EXISTS (SELECT 1 FROM fps h WHERE h.doc_id < 250 AND h.fp = b.fp)
    """,
)
def corpus_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as dedup_ops

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars", "text")
    history = docs.filter(F.col("doc_id") < 250)
    new_docs = docs.filter(F.col("doc_id") >= 250)
    replayed = history.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "lang", "n_chars", "text"
    )
    batch_copies = new_docs.filter(F.col("doc_id") < 255).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "lang", "n_chars", "text"
    )
    batch = new_docs.unionByName(replayed).unionByName(batch_copies)
    novel = dedup_ops.novel_documents(batch, history, text_col="text", id_col="doc_id")
    return novel.select("doc_id", "lang", "n_chars")


@register(
    "corpus_shard_plan",
    tags=("corpus", "pipeline", "documents"),
    doc="Token-balanced output-shard assignment (WebDataset-style "
    "shard packing): documents take a deterministic shuffle order "
    "(md5 hash key), and each shard closes when its running token "
    "budget (16384) fills — shard_id = exclusive prefix-sum of "
    "tokens DIV budget. The global prefix sum uses the "
    "range-partition + per-partition-offset pattern "
    "(operators/corpus.py:global_running_sum), never a "
    "single-partition window, so the plan survives corpus-scale "
    "inputs; the only collect is P per-partition totals.",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   CAST(len({WORDS_SQL})
                        AS BIGINT) AS n_tokens,
                   substr(md5('shard0:' || CAST(doc_id AS VARCHAR)), 1, 8) AS k
            FROM documents
        ), c AS (
            SELECT doc_id, n_tokens,
                   sum(n_tokens) OVER (
                       ORDER BY k, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum
            FROM t
        )
        SELECT doc_id, n_tokens,
               CAST((cum - n_tokens) // 16384 AS BIGINT) AS shard_id
        FROM c
    """,
)
def corpus_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        text_ops._n_tokens(F.col("text")).alias("n_tokens"),
        corpus_ops.hash_bucket_hex(F.col("doc_id"), "shard0").alias("k"),
    )
    # materialize the narrow (id, tokens, key) frame before the range
    # partitioner: repartitionByRange runs a SAMPLING job that would
    # otherwise re-execute the full-text tokenization a second time
    # (r14; the checkpoint holds the same ~30 B/row the exchange
    # shuffles anyway, so the barrier costs nothing extra at scale)
    keyed = keyed.localCheckpoint(eager=False)
    cum = corpus_ops.global_running_sum(
        keyed, order_cols=["k", "doc_id"], value_col="n_tokens", out_col="cum"
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(16384)).cast("bigint").alias("shard_id"),
    )


@register(
    "corpus_repeated_spans",
    tags=("corpus", "dedup", "documents"),
    doc="Cross-document repeated spans (exact substring dedup's "
    "discovery phase, the relational re-expression of suffix-array "
    "dedup): every word 10-gram occurrence whose span appears in >= 2 "
    "distinct documents, with its 1-based word position — what a "
    "removal pass cuts or a training-set audit reports. One "
    "span-keyed distinct-doc frequency shuffle + a semi join back; "
    "never an all-pairs comparison. Shuffle KEYS are the 16-byte md5 "
    "of the span rather than the 10-word string (the semi join's probe "
    "side still carries the span text as payload, since the text is "
    "this query's output), certified against the exact text-keyed "
    "oracle.",
    oracle=f"""
        WITH w AS (
            SELECT doc_id, {WORDS_SQL} AS l
            FROM documents
        ), shl AS (
            -- per-element concat, NOT array_to_string(l[i:i+9], ' '):
            -- a list slice inside a lambda re-materializes per
            -- element in DuckDB — O(n²) on a giant document's token
            -- list (r12 axis); element access is O(1)
            SELECT doc_id,
                   list_transform(range(1, len(l) - 8),
                       i -> l[CAST(i AS INT)] || ' ' || l[CAST(i + 1 AS INT)]
                            || ' ' || l[CAST(i + 2 AS INT)] || ' ' || l[CAST(i + 3 AS INT)]
                            || ' ' || l[CAST(i + 4 AS INT)] || ' ' || l[CAST(i + 5 AS INT)]
                            || ' ' || l[CAST(i + 6 AS INT)] || ' ' || l[CAST(i + 7 AS INT)]
                            || ' ' || l[CAST(i + 8 AS INT)] || ' ' || l[CAST(i + 9 AS INT)]) AS spans
            FROM w
            WHERE len(l) >= 10
        ), sh AS (
            SELECT doc_id, CAST(u.i AS BIGINT) AS pos, u.s AS span
            FROM shl, LATERAL (SELECT unnest(spans) AS s,
                                      generate_subscripts(spans, 1) AS i) u
        ), shared AS (
            SELECT span FROM sh GROUP BY span HAVING count(DISTINCT doc_id) >= 2
        )
        SELECT sh.doc_id, sh.pos, sh.span
        FROM sh JOIN shared USING (span)
    """,
)
def corpus_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as dedup_ops

    docs = table(spark, sf_dir, "documents", fan_out=True)
    return dedup_ops.repeated_spans(
        docs, text_col="text", id_col="doc_id", n=10, min_df=2
    )


@register(
    "corpus_span_scrub",
    tags=("corpus", "dedup", "documents"),
    doc="The removal pass completing exact substring dedup: cut every "
    "occurrence of a cross-document repeated 10-gram except its "
    "globally first one (ordered by doc_id, position), overlapping "
    "cuts unioned, and report per document the kept/removed token "
    "counts plus an md5 of the rebuilt text — row-per-document output "
    "whatever the corpus size. The first-occurrence election is a "
    "partial-aggregable min(struct) + equi-join (map-side combine "
    "absorbs a pathologically hot boilerplate span; AQE skew-join can "
    "split the join a ranking window could not), and the span "
    "shuffles are keyed on 16-byte md5s, certified here against the "
    "exact text-keyed oracle.",
    oracle=f"""
        WITH w AS (
            -- one row per DISTINCT doc_id (r11 duplicate-key axis:
            -- replayed duplicate id rows are the same document; the
            -- arbitrary pick is stable because copies are identical)
            SELECT doc_id, l FROM (
                SELECT doc_id,
                       {WORDS_SQL} AS l,
                       row_number() OVER (PARTITION BY doc_id) AS rn
                FROM documents
                WHERE doc_id IS NOT NULL
            ) WHERE rn = 1
        ), words AS (
            SELECT doc_id, CAST(u.i AS BIGINT) AS idx, u.x AS word
            FROM w, LATERAL (SELECT unnest(l) AS x,
                                    generate_subscripts(l, 1) AS i) u
        ), shl AS (
            -- per-element concat, NOT array_to_string(l[i:i+9], ' '):
            -- a list slice inside a lambda re-materializes per
            -- element in DuckDB — O(n²) on a giant document's token
            -- list (r12 axis); element access is O(1)
            SELECT doc_id,
                   list_transform(range(1, len(l) - 8),
                       i -> l[CAST(i AS INT)] || ' ' || l[CAST(i + 1 AS INT)]
                            || ' ' || l[CAST(i + 2 AS INT)] || ' ' || l[CAST(i + 3 AS INT)]
                            || ' ' || l[CAST(i + 4 AS INT)] || ' ' || l[CAST(i + 5 AS INT)]
                            || ' ' || l[CAST(i + 6 AS INT)] || ' ' || l[CAST(i + 7 AS INT)]
                            || ' ' || l[CAST(i + 8 AS INT)] || ' ' || l[CAST(i + 9 AS INT)]) AS spans
            FROM w
            WHERE len(l) >= 10
        ), sh AS (
            SELECT doc_id, CAST(u.i AS BIGINT) AS pos, u.s AS span
            FROM shl, LATERAL (SELECT unnest(spans) AS s,
                                      generate_subscripts(spans, 1) AS i) u
        ), shared AS (
            SELECT span FROM sh GROUP BY span HAVING count(DISTINCT doc_id) >= 2
        ), occ AS (
            SELECT sh.doc_id, sh.pos, sh.span FROM sh JOIN shared USING (span)
        ), ranked AS (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
            FROM occ
        ), covered AS (
            SELECT DISTINCT doc_id, pos + o AS idx
            FROM ranked, LATERAL (SELECT unnest(range(0, 10)) AS o) _
            WHERE rn > 1
        ), kept AS (
            SELECT wo.doc_id, wo.idx, wo.word
            FROM words wo LEFT JOIN covered c
              ON c.doc_id = wo.doc_id AND c.idx = wo.idx
            WHERE c.idx IS NULL
        ), totals AS (
            SELECT doc_id, count(*) AS n_total FROM words GROUP BY doc_id
        ), rebuilt AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   md5(string_agg(word, ' ' ORDER BY idx)) AS clean_fp
            FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(t.n_total - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed,
               coalesce(r.clean_fp, md5('')) AS clean_fp
        FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def corpus_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as dedup_ops

    docs = table(spark, sf_dir, "documents", fan_out=True)
    return dedup_ops.remove_repeated_spans(
        docs, text_col="text", id_col="doc_id", n=10, min_df=2
    )
