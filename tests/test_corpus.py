"""Operator-level properties of the corpus-preparation operators
(the registered queries are hash-checked against DuckDB in
test_querybank_oracle; these pin the algebraic invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mozart_etl_spark.io import table
from mozart_etl_spark.operators import corpus as C

SF = "/root/testdata/sf0.001"


def test_salted_join_equals_plain_join_on_hot_key(spark):
    # 90% of fact rows share one hot key — the shape salting exists for
    fact = spark.createDataFrame(
        [(i, 1 if i % 10 else i, float(i)) for i in range(1000)],
        "row_id INT, k INT, v DOUBLE",
    )
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(0, 1000, 10)], "k2 INT, label STRING")
    plain = fact.join(dim, fact.k == dim.k2).groupBy("label").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    salted = C.salted_join(fact, dim, "k", "k2", "row_id", n_salts=4).groupBy("label").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # fact rows of the hot key actually spread across salts
    spread = (
        fact.withColumn("_salt", F.pmod(F.hash("row_id"), F.lit(4)))
        .filter(F.col("k") == 1)
        .select("_salt")
        .distinct()
        .count()
    )
    assert spread == 4


def test_salted_join_fans_out_duplicate_dim_keys_like_plain_join(spark):
    """Duplicate-dimension-key axis (r11): a replayed-CDC dim ships
    the same key twice. salted_join's equivalence claim ("every fact
    row meets exactly one replica of its dim row") must extend to
    every COPY of a duplicated dim row — each fact row meets each
    duplicate exactly once, never once-per-salt-replica — so the
    fan-out matches the plain join row for row."""
    fact = spark.createDataFrame(
        [(i, 1 if i % 5 else 2, float(i)) for i in range(400)],
        "row_id INT, k INT, v DOUBLE",
    )
    # key 1 (the hot key) duplicated twice, key 2 three times — with
    # DIFFERENT payloads so a lost/extra replica changes values, not
    # just counts; key 3 matches nothing
    dim = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "x"), (2, "y"), (2, "z"), (3, "never")],
        "dk INT, label STRING",
    )
    plain = sorted(
        map(tuple, fact.join(dim, fact.k == dim.dk).select("row_id", "label").collect())
    )
    salted = sorted(
        map(
            tuple,
            C.salted_join(fact, dim, "k", "dk", "row_id", n_salts=4)
            .select("row_id", "label")
            .collect(),
        )
    )
    assert salted == plain


def test_shuffle_order_is_a_permutation(spark):
    docs = table(spark, SF, "documents").select("doc_id")
    n = docs.count()
    e1 = [r[0] for r in C.shuffle_order(docs, "doc_id", seed="e1").collect()]
    e2 = [r[0] for r in C.shuffle_order(docs, "doc_id", seed="e2").collect()]
    assert sorted(e1) == sorted(e2) == list(range(n))
    assert e1 != e2  # different epoch seed, different permutation


def test_chunks_reassemble_and_empty_doc(spark):
    df = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xyz"), (3, "")], "doc_id INT, text STRING"
    )
    chunks = C.chunk_documents(df, size=4).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert "".join(c["chunk_text"] for c in sorted(by_doc[1], key=lambda c: c["chunk_id"])) == "abcdefghij"
    assert [c["chunk_len"] for c in sorted(by_doc[1], key=lambda c: c["chunk_id"])] == [4, 4, 2]
    assert by_doc[2][0]["chunk_text"] == "xyz"
    assert 3 not in by_doc  # empty document yields zero chunks


def test_pack_sequences_offset_invariants(spark):
    docs = table(spark, SF, "documents").select(
        "doc_id", "lang", F.length("text").alias("n_tokens")
    )
    packed = C.pack_sequences(docs, "lang", "doc_id", "n_tokens", budget=1000).collect()
    per_stream: dict[str, list] = {}
    for r in packed:
        per_stream.setdefault(r["lang"], []).append(r)
    for lang, rows in per_stream.items():
        rows.sort(key=lambda r: r["doc_id"])
        offset = 0
        for r in rows:
            assert r["seq_id"] == offset // 1000, (lang, r)
            offset += r["n_tokens"]
        # seq ids are nondecreasing within a stream (contiguous packing)
        sids = [r["seq_id"] for r in rows]
        assert sids == sorted(sids)


def test_repetition_stats_known_values(spark):
    """Hand-computed repetition signals, including the empty and
    single-token edge cases the corpus tables never exercise."""
    from mozart_etl_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),   # 5 tokens, 2 distinct, top 'a'x3, bigrams: ab ba ab ba -> 2/4 dup
            (2, "x"),            # single token: no bigrams
            (3, ""),             # empty: n_tokens 0, ratios null
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert rows[1]["n_tokens"] == 5
    assert rows[1]["distinct_token_ratio"] == 0.4
    assert rows[1]["top_token_frac"] == 0.6
    assert rows[1]["dup_bigram_frac"] == 0.5
    assert rows[2]["n_tokens"] == 1 and rows[2]["dup_bigram_frac"] == 0.0
    assert rows[3]["n_tokens"] == 0 and rows[3]["distinct_token_ratio"] is None


def test_scrub_pii_counts_and_redacts(spark):
    from mozart_etl_spark.operators.corpus import scrub_pii

    df = spark.createDataFrame(
        [(1, "mail me at bob.z@mail.example.org or 555-0199 / 555-0200 thanks")],
        "id long, text string",
    )
    r = scrub_pii(df).collect()[0]
    assert r["n_email"] == 1 and r["n_phone"] == 2
    assert "@" not in r["clean_text"]
    assert r["clean_text"].count("<PHONE>") == 2 and "<EMAIL>" in r["clean_text"]


def test_tfidf_corpus_wide_term_scores_zero(spark):
    """A term present in every document has idf ln(N/N)=0 and never
    outranks document-specific terms."""
    from mozart_etl_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "common alpha alpha"), (2, "common beta"), (3, "common gamma gamma gamma")],
        "doc_id long, text string",
    )
    top1 = {
        r["doc_id"]: r["term"]
        for r in tfidf_top_terms(df, k=1).collect()
    }
    assert top1 == {1: "alpha", 2: "beta", 3: "gamma"}


def test_global_row_number_dense_and_ordered(spark):
    """Scalable global rank: dense 1..N, consistent with the total
    order, stable across the two internal jobs (counts + numbering)."""
    from mozart_etl_spark.operators.corpus import global_row_number

    df = spark.range(0, 5000).selectExpr("id", "cast(id % 13 as double) as v")
    ranked, total = global_row_number(df, ["v", "id"], out_col="rn")
    rows = sorted((r["rn"], r["v"], r["id"]) for r in ranked.collect())
    assert total == 5000
    assert [r[0] for r in rows] == list(range(1, 5001))
    assert rows == sorted(rows, key=lambda r: (r[1], r[2]))


def test_global_running_sum_matches_window_and_partitioning(spark):
    """Scalable global prefix sum: equals the single-partition window
    result exactly, and is invariant to input partitioning (the
    determinism a shard plan needs across cluster sizes/retries)."""
    from pyspark.sql import Window

    from mozart_etl_spark.operators.corpus import global_running_sum

    df = spark.range(0, 5000).selectExpr(
        "id", "cast(id % 7 as bigint) as v", "cast(id % 13 as double) as k"
    )
    w = (
        Window.orderBy("k", "id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    expected = {
        r["id"]: r["cum"]
        for r in df.withColumn("cum", F.sum("v").over(w).cast("bigint")).collect()
    }
    got = {
        r["id"]: r["cum"]
        for r in global_running_sum(df, ["k", "id"], "v", num_partitions=16).collect()
    }
    assert got == expected
    again = {
        r["id"]: r["cum"]
        for r in global_running_sum(
            df.repartition(32), ["k", "id"], "v", num_partitions=4
        ).collect()
    }
    assert again == expected

    # fractional value columns keep their type — no silent bigint floor
    fdf = df.selectExpr("id", "k", "cast(v as double) / 10 as v")
    frac = global_running_sum(fdf, ["k", "id"], "v", num_partitions=4)
    assert dict(frac.dtypes)["cum"] == "double"
    got_f = {r["id"]: r["cum"] for r in frac.collect()}
    assert all(abs(got_f[i] - expected[i] / 10) < 1e-9 for i in expected)


def test_global_running_sum_all_null_fractional_column(spark):
    """An entirely-NULL double/decimal value column must yield rows
    with cum NULL, not crash building the offsets DataFrame (the
    fallback zero has to match the sum column's Spark type)."""
    from mozart_etl_spark.operators.corpus import global_running_sum

    for typ in ("double", "decimal(10,2)"):
        df = spark.range(0, 10).selectExpr("id", f"cast(null as {typ}) as v")
        out = global_running_sum(df, ["id"], "v", num_partitions=4).collect()
        assert len(out) == 10 and all(r["cum"] is None for r in out)


def test_novel_documents_drop_paths(spark):
    """Both drop paths of the incremental novelty filter: a batch doc
    whose fingerprint exists in history is dropped (anti-join), a
    within-batch refingerprint keeps only the earliest id, and
    normalization ignores case/punctuation."""
    from mozart_etl_spark.operators.dedup import novel_documents

    history = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id INT, text STRING"
    )
    batch = spark.createDataFrame(
        [
            (10, "ALPHA, beta!"),   # normalizes to history doc 1 -> dropped
            (11, "epsilon zeta"),   # novel -> kept
            (12, "epsilon-zeta"),   # same skeleton as 11 -> dropped (11 first)
            (13, "eta theta"),      # novel -> kept
        ],
        "doc_id INT, text STRING",
    )
    out = sorted(r["doc_id"] for r in novel_documents(batch, history).collect())
    assert out == [11, 13]


def test_weighted_sample_prefers_heavy_rows(spark):
    # weights 1000:1 — heavy rows should dominate a half-size sample
    rows = [(i, 1000.0 if i < 50 else 1.0) for i in range(500)]
    df = spark.createDataFrame(rows, "id BIGINT, w DOUBLE")
    got = C.sample_weighted_topk(df, "id", "w", k=60, seed="t")
    ids = {r["id"] for r in got.collect()}
    assert len(ids) == 60
    # all 50 heavy rows make the cut with overwhelming probability
    assert sum(1 for i in ids if i < 50) == 50
    # deterministic: same seed, same sample
    again = {r["id"] for r in C.sample_weighted_topk(df, "id", "w", k=60, seed="t").collect()}
    assert ids == again
    # different seed permutes the light-row tail
    other = {r["id"] for r in C.sample_weighted_topk(df, "id", "w", k=60, seed="u").collect()}
    assert ids != other


def test_cap_per_group_bounds_and_determinism(spark):
    docs = table(spark, SF, "documents")
    capped = C.cap_per_group(docs, "source", "doc_id", cap=7, seed="t")
    per_group = capped.groupBy("source").count().collect()
    assert per_group and all(r["count"] <= 7 for r in per_group)
    # rn is dense 1..n within each group
    rns = capped.groupBy("source").agg(
        F.max("rn").alias("mx"), F.count("*").alias("n")
    ).collect()
    assert all(r["mx"] == r["n"] for r in rns)
    ids = {r["doc_id"] for r in capped.select("doc_id").collect()}
    assert ids == {r["doc_id"] for r in C.cap_per_group(docs, "source", "doc_id", 7, "t").select("doc_id").collect()}


def test_cap_per_group_salted_prune_identical_on_hot_key(spark):
    """``salt_buckets`` must not change the output AT ALL — rows, rn,
    everything — including on pathologically hot groups (one group
    holding 90% of the rows, the shape the salted prune exists for),
    and the plan must show the two-level window (salt window feeding
    the global one)."""
    rows = [(i, "hot" if i % 10 else f"cold{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING")
    plain = C.cap_per_group(df, "source", "doc_id", cap=25, seed="s")
    salted = C.cap_per_group(df, "source", "doc_id", cap=25, seed="s", salt_buckets=8)
    want = {(r["doc_id"], r["source"], r["rn"]) for r in plain.collect()}
    got = {(r["doc_id"], r["source"], r["rn"]) for r in salted.collect()}
    assert got == want and want
    # the hot group is actually capped (not vacuous)
    assert sum(1 for _, s, _ in want if s == "hot") == 25
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        salted.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Window") >= 2, "salted prune should add a second Window"
    assert "_salt_rn" in plan


def test_sample_temperature_keeps_null_stratum(spark):
    """NULL-stratum policy pin (r9 orphan-FK axis): rows with a NULL
    stratum are a real stratum — counted, temperature-weighted, and
    kept by the same formula as any named source. The pre-r9 plain
    equi-join-back silently deleted every NULL-stratum row from the
    mix regardless of budget. With tau=1 and budget 1.0 the keep
    fraction is exactly 1 for every stratum, so the output must be
    the whole input, NULL-stratum rows included; the tiny threshold
    join must stay a broadcast hash join (NULL-safe <=> is still an
    equi-join key), never a sort-merge join."""
    rows = [(i, None if i % 3 == 0 else f"src{i % 2}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, source STRING")
    out = C.sample_temperature(
        df, id_col="doc_id", stratum_col="source", seed="t0",
        tau=1.0, budget_frac=1.0,
    )
    got = {(r["doc_id"], r["source"]) for r in out.collect()}
    assert got == set(rows)
    assert sum(1 for _, s in got if s is None) == 30
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    # post-execution AQE explain shows Final Plan then Initial Plan;
    # the runtime decision (tiny threshold side -> broadcast) is the
    # one that matters, so assert on the final section only
    final = buf.getvalue().split("+- == Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final and "SortMergeJoin" not in final
    # sub-unit budget: the NULL stratum is downsampled, not deleted
    some = C.sample_temperature(
        df, id_col="doc_id", stratum_col="source", seed="t0",
        tau=0.7, budget_frac=0.5,
    ).collect()
    assert 0 < len(some) < 90
    assert any(r["source"] is None for r in some)


def test_sample_temperature_rejects_scratch_column_collision(spark):
    """_thr/_stratum_thr_key are scratch columns; an input already
    carrying one must be rejected, not silently clobbered."""
    import pytest

    df = spark.createDataFrame([(1, "a", "x")], "doc_id BIGINT, source STRING, _thr STRING")
    with pytest.raises(ValueError, match="_thr"):
        C.sample_temperature(df, id_col="doc_id", stratum_col="source", seed="s")


def test_cap_per_group_rejects_salt_scratch_column_collision(spark):
    """The salted path uses _salt_rn as a scratch column; an input
    already carrying one must be rejected, not silently clobbered
    and dropped."""
    import pytest

    df = spark.createDataFrame(
        [(1, "a", 9)], "doc_id BIGINT, source STRING, _salt_rn BIGINT"
    )
    with pytest.raises(ValueError, match="_salt_rn"):
        C.cap_per_group(df, "source", "doc_id", cap=1, salt_buckets=2)
    # the unsalted path has no scratch column and keeps the input's
    got = C.cap_per_group(df, "source", "doc_id", cap=1).collect()
    assert got[0]["_salt_rn"] == 9


def test_cooccurrence_pmi_symmetry_and_independence(spark):
    from mozart_etl_spark.operators import text as T

    # a,b co-occur perfectly in half the corpus; c is an independent
    # coin-flip across ALL docs => pmi(a,b) = ln(2), pmi(a,c) ~ 0
    rows = [(i, "a b" + (" c" if i % 2 else "")) for i in range(400)]
    rows += [(i, "x" + (" c" if i % 2 else "")) for i in range(400, 800)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {(r["tok_a"], r["tok_b"]): (r["n_ab"], r["pmi"]) for r in T.cooccurrence_pmi(df).collect()}
    # pairs are canonically ordered tok_a < tok_b, no duplicates reversed
    assert all(a < b for a, b in out)
    import math

    n_ab, pmi = out[("a", "b")]
    assert n_ab == 400
    assert abs(pmi - math.log(2)) < 1e-3  # P(ab)=.5, P(a)=P(b)=.5 => ln(.5/.25)
    n_ac, pmi_ac = out[("a", "c")]
    assert n_ac == 200
    assert abs(pmi_ac) < 1e-3  # c ⫫ a by construction


def test_cooccurrence_pmi_null_ids_excluded(spark):
    """NULL-id rows are excluded from presence sets AND from N (r12
    advisor close-out): Spark's dropDuplicates pools all NULL ids
    into one arbitrary representative while a SQL DISTINCT
    (doc_id, tok) unions tokens across every NULL-id row — with two
    differing NULL-id texts the engines diverge on marginals. The
    contract (engine NULL-identity policy): a document without an
    identity is not a document. Result must equal running on the
    non-NULL subset alone, regardless of how many conflicting
    NULL-id rows exist."""
    from mozart_etl_spark.operators import text as T

    clean = [(i, "a b" if i % 2 else "a") for i in range(1, 9)]
    noisy = clean + [(None, "z q a"), (None, "b w"), (None, "a b")]
    df_clean = spark.createDataFrame(clean, "doc_id BIGINT, text STRING")
    df_noisy = spark.createDataFrame(noisy, "doc_id BIGINT, text STRING")
    want = sorted(map(tuple, T.cooccurrence_pmi(df_clean).collect()))
    got = sorted(map(tuple, T.cooccurrence_pmi(df_noisy).collect()))
    assert got == want
    # the NULL-only tokens never appear
    assert not any("z" in (r[0], r[1]) or "w" in (r[0], r[1]) for r in got)


def test_hash_keyed_ops_invariant_to_partitioning(spark):
    """The determinism claim the sampling/cap operators make is
    'same result across cluster sizes, partition counts, and task
    retries'. Pin it: results must be identical when the input
    arrives in 1 partition and in 32."""
    docs = table(spark, SF, "documents")

    def ids(df):
        return sorted(r[0] for r in df.collect())

    for build in (
        lambda d: C.sample_stratified(
            d, "doc_id", "lang", {"en": 0.3, "zh": 0.3}, seed="p"
        ).select("doc_id"),
        lambda d: C.sample_weighted_topk(d, "doc_id", "n_chars", k=40, seed="p").select("doc_id"),
        lambda d: C.cap_per_group(d, "source", "doc_id", cap=5, seed="p").select("doc_id"),
    ):
        one = ids(build(docs.repartition(1)))
        many = ids(build(docs.repartition(32)))
        assert one == many and one


def test_token_counting_ignores_phantom_whitespace_tokens(spark):
    """trim() strips only ASCII spaces and split() keeps boundary
    empties, so padded text used to count phantom tokens; every
    token-counting path must agree on the filtered count."""
    from mozart_etl_spark.operators.text import repetition_stats, token_stats

    df = spark.createDataFrame(
        [(1, "a\nb\n"), (2, "\n\n"), (3, ""), (4, "  a  b  ")],
        "doc_id LONG, text STRING",
    )
    counts = {r["doc_id"]: r["n_tokens"] for r in token_stats(df).collect()}
    assert counts == {1: 2, 2: 0, 3: 0, 4: 2}
    rep = {r["doc_id"]: r["n_tokens"] for r in repetition_stats(df).collect()}
    assert rep == counts  # the two n_tokens columns agree


def test_ngram_phrases_skip_empty_tokens(spark):
    """Newline-terminated text must not fabricate phrases containing
    empty tokens ('b ' from 'a b\\n')."""
    from mozart_etl_spark.operators.text import ngram_phrase_counts

    df = spark.createDataFrame([(1, "a b\n"), (2, "a b")], "doc_id LONG, text STRING")
    phrases = {r["phrase"] for r in ngram_phrase_counts(df, n=2).collect()}
    assert phrases == {"a b"}


def test_chunk_documents_rejects_gapped_stride(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "abc")], "doc_id LONG, text STRING")
    with _pytest.raises(ValueError, match="stride"):
        C.chunk_documents(df, size=100, stride=500)


def test_repeated_span_discovery_and_removal_semantics(spark):
    """Hand-crafted duplicate passage: the span appears in two docs;
    discovery reports both positioned occurrences, removal keeps the
    globally first (lowest doc_id) and cuts the later one, unioning
    overlapping cut ranges."""
    from mozart_etl_spark.operators.dedup import remove_repeated_spans, repeated_spans

    passage = "one two three four"  # 4-gram shared verbatim
    df = spark.createDataFrame(
        [
            (1, f"intro {passage} outro"),
            (2, f"start {passage} {passage} end"),  # two copies in doc 2
            (3, "unrelated words only here"),
        ],
        "doc_id LONG, text STRING",
    )
    occ = {(r["doc_id"], r["pos"]) for r in repeated_spans(df, n=4, min_df=2).collect()}
    assert (1, 2) in occ and (2, 2) in occ and (2, 6) in occ

    out = {r["doc_id"]: r for r in remove_repeated_spans(df, n=4, min_df=2).collect()}
    # doc 1 holds the first occurrence: nothing removed
    assert out[1]["n_removed"] == 0 and out[1]["n_kept"] == 6
    # doc 2 loses both later copies (8 covered words), keeps start/end
    assert out[2]["n_removed"] == 8 and out[2]["n_kept"] == 2
    # doc 3 untouched
    assert out[3]["n_removed"] == 0 and out[3]["n_kept"] == 4


def test_repeated_span_removal_survives_pathological_hot_span(spark):
    """Skew stress for the fused election: ONE boilerplate span
    occurs in ~90% of documents (the web-crawl header shape). The
    min-struct groupBy must still elect exactly the globally first
    occurrence and cut every other copy — and the physical plan must
    do the election with partial (map-side) aggregation, never a
    Window.partitionBy(span) sort that would pin all hot-span rows to
    one task."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from mozart_etl_spark.operators.dedup import remove_repeated_spans

    n = 1000
    boiler = "click here to subscribe now"  # 5 words; n=5 span
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % 10 < 9,
            F.concat_ws(
                " ",
                F.lit(boiler),
                F.concat(F.lit("unique"), F.col("id")),
                F.concat(F.lit("tail"), F.col("id")),
            ),
        )
        .otherwise(
            F.concat_ws(
                " ",
                F.concat(F.lit("alpha"), F.col("id")),
                F.concat(F.lit("beta"), F.col("id")),
                F.concat(F.lit("gamma"), F.col("id")),
                F.concat(F.lit("delta"), F.col("id")),
                F.concat(F.lit("epsilon"), F.col("id")),
            )
        )
        .alias("text"),
    )

    out = remove_repeated_spans(docs, n=5, min_df=2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "partial_min" in plan or "partial" in plan.lower(), "election not map-side combinable"
    assert "Window" not in plan, "hot-span election regressed to a window sort"

    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == n
    # doc 0 is the global first occurrence: keeps all 7 words
    assert rows[0]["n_removed"] == 0 and rows[0]["n_kept"] == 7
    # every other boilerplate doc loses exactly the 5 span words
    hot = [d for d in range(1, n) if d % 10 < 9]
    assert all(rows[d]["n_removed"] == 5 and rows[d]["n_kept"] == 2 for d in hot)
    # non-boilerplate docs (all-unique words) are untouched
    cold = [d for d in range(n) if d % 10 >= 9]
    assert all(rows[d]["n_removed"] == 0 and rows[d]["n_kept"] == 5 for d in cold)


def test_funnel_custom_stage_chains(spark):
    """funnel_stage_times generalizes beyond the canonical 3-stage
    chain: a 2-stage chain and a 4-stage chain with a repeated type
    (view -> click -> view -> purchase: the second 'view' stage needs
    a fresh view strictly after the click)."""
    from mozart_etl_spark.operators.events import funnel_stage_times

    rows = [
        # user 1: view@1 click@2 view@3 purchase@4 — completes all 4
        (1, 1, "view"), (1, 2, "click"), (1, 3, "view"), (1, 4, "purchase"),
        # user 2: view@1 click@2 purchase@3 — no second view, stalls at stage 3
        (2, 1, "view"), (2, 2, "click"), (2, 3, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts_us LONG, event_type STRING")

    two = {
        r["user_id"]: (r["click"], r["purchase"])
        for r in funnel_stage_times(df, stages=("click", "purchase")).collect()
    }
    assert two == {1: (2, 4), 2: (2, 3)}

    four = funnel_stage_times(df, stages=("view", "click", "view", "purchase"))
    cols = four.columns
    assert cols == ["user_id", "view", "click", "view", "purchase"]
    vals = {tuple(r)[0]: tuple(r)[1:] for r in four.collect()}
    assert vals == {1: (1, 2, 3, 4), 2: (1, 2, None, None)}


def test_funnel_null_ts_events_are_excluded(spark):
    """NULL-ts policy pin (r9): an untimestamped event has no sequence
    position — it must never occupy a stage slot (even as the sole
    event of its type) and a user with ONLY NULL-ts events must not
    appear at all."""
    from mozart_etl_spark.operators.events import funnel_stage_times

    rows = [
        # user 1: the only 'view' is untimestamped — funnel never starts
        (1, None, "view"), (1, 2, "click"), (1, 3, "purchase"),
        # user 2: NULL-ts click noise around a complete timestamped funnel
        (2, None, "click"), (2, 1, "view"), (2, 2, "click"), (2, 3, "purchase"),
        # user 3: only NULL-ts events — absent from the output entirely
        (3, None, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts_us LONG, event_type STRING")
    got = {
        r["user_id"]: (r["view"], r["click"], r["purchase"])
        for r in funnel_stage_times(df).collect()
    }
    assert got == {1: (None, None, None), 2: (1, 2, 3)}


def test_funnel_null_identity_events_are_excluded(spark):
    """NULL-identity policy pin (r9 orphan-FK axis): an event with no
    user identity cannot join a journey — NULL-user events must not
    form a phantom pooled participant (what a bare groupBy would do)
    and must not appear in the output at any stage. Found live by the
    edges sweep: Spark's fold advanced the pooled NULL group through
    every stage while the oracle's USING-join chain counted it at
    stage 1 only."""
    from mozart_etl_spark.operators.events import funnel_stage_times

    rows = [
        # orphan events that would complete a funnel if pooled
        (None, 1, "view"), (None, 2, "click"), (None, 3, "purchase"),
        # a real user with a complete funnel
        (7, 1, "view"), (7, 2, "click"), (7, 3, "purchase"),
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts_us LONG, event_type STRING")
    got = {
        r["user_id"]: (r["view"], r["click"], r["purchase"])
        for r in funnel_stage_times(df).collect()
    }
    assert got == {7: (1, 2, 3)}
