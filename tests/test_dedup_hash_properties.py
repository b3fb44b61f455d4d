"""Differential property tests for the hash-fold dedup operators.

The MinHash signature fold, the SimHash bit-vote fold, and the
shingle-join Jaccard are the operators whose correctness lives in
hash arithmetic (affine maps mod 2^31-1, signed 64-bit bit votes,
inverted-index set algebra) rather than in SQL-expressible relations,
so the DuckDB oracle can't pin them. These tests pin them the other
way: an independent pure-Python replica of the arithmetic, fed the
same xxhash64 values (fetched once from Spark, since xxhash64 has no
Python stdlib twin), must reproduce the operator output bit-for-bit
on hypothesis-generated corpora.

Alphabet is restricted to 'a','b','x',' ' so Python ``str.split()``
and Spark ``filter(split(trim(text), '\\s+'), t -> t != '')``
tokenize identically (the cross-engine unicode boundary has its own
dedicated suite, test_unicode_parity.py).
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from mozart_etl_spark.operators import dedup as D

_P = D._MERSENNE_31

_texts = st.lists(
    st.text(alphabet="ab x", min_size=0, max_size=60), min_size=1, max_size=6
)


def _spark_xxhash64(spark, strings: list[str]) -> dict[str, int]:
    """xxhash64 (seed 42, Spark's default) for each distinct string,
    computed by the JVM — the one primitive the Python replica can't
    re-derive."""
    if not strings:
        return {}
    df = spark.createDataFrame([(s,) for s in set(strings)], "s STRING")
    return {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}


@settings(max_examples=8, deadline=None)
@given(_texts, st.integers(min_value=1, max_value=3), st.integers(min_value=0, max_value=3))
def test_minhash_signatures_match_python_fold(spark, texts, n, seed):
    """Property: for any corpus, shingle width, and permutation seed,
    the signature kernel equals the textbook per-doc min over
    affine-mapped shingle hashes."""
    num_perm = 8
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    got = {
        r["doc_id"]: list(r["sig"])
        for r in D.minhash_signatures(
            df, n=n, num_perm=num_perm, seed=seed
        ).collect()
    }

    perms = D._permutation_params(num_perm, seed)
    all_shingles = []
    doc_shingles: dict[int, set[str]] = {}
    for i, t in enumerate(texts):
        toks = t.split()
        if len(toks) < n:
            continue
        sh = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
        doc_shingles[i] = sh
        all_shingles.extend(sh)
    hashes = _spark_xxhash64(spark, all_shingles)

    want = {}
    for i, sh in doc_shingles.items():
        reduced = [hashes[s] % _P for s in sh]
        want[i] = [min((h * a + b) % _P for h in reduced) for a, b in perms]
    assert got == want


@settings(max_examples=8, deadline=None)
@given(_texts)
def test_simhash_matches_python_fold(spark, texts):
    """Property: the vote-fold kernel equals the classic per-bit tally
    (every token OCCURRENCE votes, not every distinct token), with
    Java's wrapping signed-64 fingerprint assembly."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    got = {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()}

    tokens_per_doc = {i: t.split() for i, t in enumerate(texts)}
    hashes = _spark_xxhash64(
        spark, [tok for toks in tokens_per_doc.values() for tok in toks]
    )
    want = {}
    for i, toks in tokens_per_doc.items():
        fp = 0
        for k in range(64):
            vote = sum(1 if (hashes[t] >> k) & 1 else -1 for t in toks)
            if vote > 0:
                fp |= 1 << k
        if fp >= 1 << 63:  # Java long wrap-around
            fp -= 1 << 64
        want[i] = fp
    assert got == want


def test_arrow_kernels_are_batch_boundary_independent(spark):
    """The numpy kernels process Arrow batches independently; a
    result must not depend on how rows are grouped into batches.
    Both inputs sit in one partition, so the default batch size
    feeds each kernel every row in one batch; with 2-row batches the
    same kernel sees several, and its output must not change."""
    from mozart_etl_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, f"a b c d e f g{i % 3}") for i in range(10)], "doc_id INT, text STRING"
    ).coalesce(1)
    emb = spark.createDataFrame(
        [(i, [float(i % 5 - 2), 0.5 * i, -1.0, 3.0]) for i in range(10)]
        + [(10, None), (11, [0.0] * 4)],
        "vec_id INT, embedding ARRAY<DOUBLE>",
    ).coalesce(1)

    def outputs():
        return {
            "minhash": {
                r["doc_id"]: list(r["sig"])
                for r in D.minhash_signatures(df, num_perm=8).collect()
            },
            "simhash": {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()},
            "lsh": {
                (r["qid"], r["table_id"]): r["bucket"]
                for r in S.lsh_banded(emb, 4, "qid", "qv", n_planes=3, n_tables=2).collect()
            },
            "quantize": {
                r["vec_id"]: (r["scale"], r["qvec"], r["q_sum"], r["q_l1"])
                for r in S.quantize_embeddings(emb).collect()
            },
        }

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    assert int(old) >= 12
    whole = outputs()
    try:
        spark.conf.set(key, "2")
        paired = outputs()
    finally:
        spark.conf.set(key, old)
    assert all(len(v) > 0 for v in whole.values())
    for kernel in whole:
        assert paired[kernel] == whole[kernel], kernel


@settings(max_examples=8, deadline=None)
@given(_texts, st.integers(min_value=1, max_value=3))
def test_ngram_jaccard_pairs_match_python_sets(spark, texts, n):
    """Property: the inverted-index equi-join produces exactly the
    pairs sharing >=1 shingle with textbook set-Jaccard values."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, n=n).collect()
    }

    shingles = {}
    for i, t in enumerate(texts):
        toks = t.split()
        if len(toks) >= n:
            shingles[i] = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
    want = {}
    ids = sorted(shingles)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(shingles[a] & shingles[b])
            if inter:
                want[(a, b)] = round(inter / len(shingles[a] | shingles[b]), 4)
    assert got == want


@settings(max_examples=8, deadline=None)
@given(_texts, st.integers(min_value=1, max_value=3))
def test_jaccard_verify_pairs_matches_full_scorer(spark, texts, n):
    """Property: restricted verification equals the full inverted-index
    scorer on every co-shingled candidate, returns 0.0 for candidates
    sharing no shingle (or whose doc is sub-n-words), and never drops
    a candidate row."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, n=n).collect()
    }
    # candidates: every pair the full scorer found, plus every other
    # doc pair (no shared shingle — the verifier must keep them at 0)
    all_pairs = [(a, b) for a in range(len(texts)) for b in range(len(texts)) if a < b]
    if not all_pairs:
        return
    cand = spark.createDataFrame(all_pairs, "doc_a INT, doc_b INT")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.jaccard_verify_pairs(df, cand, n=n).collect()
    }
    assert set(got) == set(all_pairs)  # no candidate dropped
    for p in all_pairs:
        assert got[p] == full.get(p, 0.0), (p, got[p], full.get(p))


def test_jaccard_verify_pairs_dedups_candidate_rows(spark):
    """Duplicate candidate rows (a caller emitting a pair once per
    colliding band/bucket) must neither duplicate output rows nor
    inflate the intersection count — each extra copy would re-join the
    same shingle matches and multiply `inter` without touching the
    union, overstating Jaccard."""
    df = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e g")], "doc_id INT, text STRING"
    )
    once = spark.createDataFrame([(0, 1)], "doc_a INT, doc_b INT")
    thrice = once.unionAll(once).unionAll(once)
    want = [r.asDict() for r in D.jaccard_verify_pairs(df, once, n=3).collect()]
    got = [r.asDict() for r in D.jaccard_verify_pairs(df, thrice, n=3).collect()]
    assert len(want) == 1 and got == want
    # 3-shingles: {abc,bcd,cde,def} vs {abc,bcd,cde,deg} -> 3/5
    assert want[0]["jaccard"] == 0.6


def test_minhash_lsh_params_closed_forms(monkeypatch):
    """minhash_lsh_params must satisfy the banding recall identity
    1-(1-t^r)^B >= target at r = num_perm/bands, walk r back toward 2
    only when the band cap forces it, and refuse when even (r=2,
    max bands) cannot reach the target."""
    import math

    import pytest

    from mozart_etl_spark.operators import dedup
    from mozart_etl_spark.operators.dedup import minhash_lsh_params

    for t in (0.5, 0.6, 0.8, 0.9):
        num_perm, bands = minhash_lsh_params(t)
        r = num_perm // bands
        assert num_perm % bands == 0 and 2 <= r <= 3
        assert 1.0 - (1.0 - t**r) ** bands >= 0.98
    # hand-derived pins (quoted in the docstring and in the certified
    # _jaccard_edges chain)
    assert minhash_lsh_params(0.5) == (90, 30)
    with monkeypatch.context() as m:
        m.setattr(dedup, "_MINHASH_RECALL", 0.95)
        assert minhash_lsh_params(0.5) == (69, 23)
    assert minhash_lsh_params(1.0) == (3, 1)
    # low threshold walks r back to 2 before giving up
    num_perm, bands = minhash_lsh_params(0.3)
    assert num_perm // bands == 2 and bands <= 64
    # unreachable: refuse loudly rather than under-recall silently
    with pytest.raises(ValueError, match="max_bands"):
        minhash_lsh_params(0.05)
    with pytest.raises(ValueError, match="explicit"):
        minhash_lsh_params(0.0)
