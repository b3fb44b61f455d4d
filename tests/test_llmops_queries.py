"""Driver-data assertions for the approximate llmops entries.

``dedup_embedding_lsh`` carries a FULL DuckDB value oracle since r13
(seeded hyperplanes injected as SQL literals; CORRECTNESS_r13 shows
the hash matching). The twin-recall floor here is a SUPPLEMENT to
that oracle, not a substitute: it pins WHICH pairs must come back on
the exact data the driver uses — the 20 deterministically scaled
twins the query injects (``vec_id + 100000`` with
``embedding * 0.5``) have cosine exactly 1 and collide in every LSH
table (halving flips no projection sign), so they are a
guaranteed-recall floor — the query must return all 20, at both the
smoke SF and the driver's correctness SF.
"""

from __future__ import annotations

import pytest

from mozart_etl_spark.querybank import REGISTRY, _ensure_loaded

from .conftest import SF_CORRECT, SF_SMOKE

_ensure_loaded()


@pytest.mark.parametrize("d", [SF_SMOKE, SF_CORRECT])
def test_embedding_lsh_driver_row_contains_injected_twins(spark, d):
    rows = REGISTRY["dedup_embedding_lsh"].fn(spark, d).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in rows}
    expected = {(i, i + 100000) for i in range(20)}
    missing = expected - set(pairs)
    assert not missing, f"injected twin pairs missing from LSH output: {missing}"
    for p in expected:
        assert pairs[p] == 1.0, f"twin pair {p} cosine {pairs[p]} != 1.0"
    # the driver's rows-only check is only meaningful if rows > 0 —
    # which the floor above already guarantees
    assert len(rows) >= 20


def test_components_raise_on_chain_beyond_round_cap(spark, monkeypatch):
    """A path graph of 60 nodes has diameter 59: min-label propagation
    needs ~30 rounds (it spreads the min ~2 hops per round from the
    free init), so a round cap of 8 must hard-error rather than return
    a partial labeling."""
    from mozart_etl_spark.operators import dedup as dedup_ops

    monkeypatch.setattr(dedup_ops, "_CC_MAX_ROUNDS", 8)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "doc_a LONG, doc_b LONG"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup_ops.connected_components(chain)


def test_jaccard_edges_exact_cluster_is_linear_and_components_exact(spark):
    """The certified edge chain's stage-0 collapse on an adversarial
    EXACT-duplicate cluster: 40 verbatim copies must contribute 39
    star edges (linear), never the C(40,2)=780 bucket pairs banding
    would enumerate (identical texts share every band of every
    signature — band length cannot damp true identical-signature
    clusters), while connected components stay equal to the exact
    >=0.5 pairwise fixpoint computed by a union-find replica."""
    from mozart_etl_spark.operators.dedup import connected_components, ngram_jaccard_pairs
    from mozart_etl_spark.querybank.llmops import _jaccard_edges

    k = 40
    viral = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, viral) for i in range(k)]
    rows += [
        (100, "completely different text about spark scaling and shuffles"),
        (101, "completely different text about spark scaling and shuffle"),  # near-dup of 100
        (102, "an unrelated singleton document with its own words"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    edges = _jaccard_edges(docs).collect()
    star = {(r["doc_a"], r["doc_b"]) for r in edges if r["doc_b"] < 100}
    assert star == {(0, i) for i in range(1, k)}, "cluster must be k-1 star edges"
    assert len(edges) == len(star) + sum(
        1 for r in edges if r["doc_a"] >= 100
    ), "no quadratic intra-cluster pairs may survive the collapse"

    got = {
        (r["node"], r["component"])
        for r in connected_components(_jaccard_edges(docs)).collect()
    }
    exact = ngram_jaccard_pairs(docs, n=3)
    exact_edges = [
        (r["doc_a"], r["doc_b"])
        for r in exact.collect()
        if r["_raw_jaccard"] >= 0.5
    ]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in exact_edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in parent}
    assert got == want


def test_embedding_lsh_oracle_banding_params_pinned():
    """The dedup_embedding_lsh DuckDB oracle hard-codes the banding
    that ``lsh_near_dup_pairs`` resolves for the DRIVER corpus (the
    oracle is a static SQL string; the hyperplanes are literals). This
    pins the three facts that keep the hard-coding sound:

    1. the driver corpus (500 vectors + 20 scaled twins, zero
       identical-vector groups at both committed SFs) yields 520
       post-collapse representatives;
    2. auto_lsh_params(520, 0.95) == (5, 4) — and stays (5, 4) for
       every count in (512, 1024], so edge-variant corpora (a few
       injected rows either way) resolve identically;
    3. the oracle embeds exactly 5*4 = 20 hyperplane rows, and the
       knn_lsh_cosine oracle exactly 4*8 = 32.
    """
    import duckdb

    from mozart_etl_spark.operators.similarity import auto_lsh_params

    con = duckdb.connect()
    n, groups = con.execute(
        """
        WITH inp AS (
          SELECT vec_id, embedding FROM read_parquet('/root/testdata/sf0.01/embeddings.parquet')
          UNION ALL
          SELECT vec_id + 100000,
                 list_transform(embedding,
                     x -> CAST(CAST(CAST(x AS DOUBLE) * 0.5 AS REAL) AS FLOAT))
          FROM read_parquet('/root/testdata/sf0.01/embeddings.parquet') WHERE vec_id < 20
        )
        SELECT count(*),
               count(DISTINCT CAST(list_transform(embedding, x -> CAST(x AS DOUBLE)) AS VARCHAR))
        FROM inp
        """
    ).fetchone()
    con.close()
    assert (n, groups) == (520, 520), (n, groups)

    assert auto_lsh_params(520, 0.95) == (5, 4)
    assert auto_lsh_params(513, 0.95) == (5, 4)
    assert auto_lsh_params(1024, 0.95) == (5, 4)
    assert auto_lsh_params(512, 0.95) != (5, 4)  # the window's lower edge

    emb_oracle = REGISTRY["dedup_embedding_lsh"].oracle
    knn_oracle = REGISTRY["knn_lsh_cosine"].oracle
    assert emb_oracle is not None and knn_oracle is not None
    assert emb_oracle.count("]::DOUBLE[]") == 20
    assert knn_oracle.count("]::DOUBLE[]") == 32


def test_minhash_portable_hash_matches_duckdb_bit_exactly(spark):
    """The portable 60-bit md5-prefix hash — the cross-engine bridge
    that lets the driver value-check the whole MinHash/SimHash chain —
    must parse to the identical BIGINT in Spark and DuckDB, including
    on multibyte input (md5 runs over UTF-8 bytes in both engines)."""
    import duckdb

    from pyspark.sql import functions as F

    samples = ["abc", "hello world", "üñïçode", "緯度 経度", ""]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select(
            "s", F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint").alias("h")
        ).collect()
    }
    con = duckdb.connect()
    for s in samples:
        want = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 15))::BIGINT", [s]
        ).fetchone()[0]
        assert got[s] == want, (s, got[s], want)
    con.close()


def test_multimodal_frame_sample_windows_and_row_faithfulness(spark):
    """sample_frames: multi-frame payloads (partial last frame),
    every-3rd sampling, empty payload -> zero rows, duplicate rows
    emit their own frames, and the checksum is position-weighted
    (a byte swap inside a frame changes it)."""
    from mozart_etl_spark.operators import multimodal as mm

    rows = [
        (1, "a" * 1000),   # 4 frames (256*3 + 232) -> sampled idx 0, 3
        (2, "xy"),         # 1 partial frame
        (3, None),         # empty payload -> no frames
        (4, "ab"), (4, "ab"),  # duplicate rows -> duplicated frame rows
        # unsampled partial tail (r14 vectorized kernel edge): 3
        # frames (256+256+88), every-3rd samples only idx 0, whose
        # n_bytes must stay the FULL 256 — the partial-size branch
        # fires only when the last frame is itself sampled
        (5, "b" * 600),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = mm.sample_frames(mm.attach_binary_payload(docs)).collect()
    got = sorted((r.doc_id, r.frame_idx, r.n_bytes) for r in out)
    assert got == [
        (1, 0, 256), (1, 3, 232), (2, 0, 2), (4, 0, 2), (4, 0, 2), (5, 0, 256),
    ]
    cks = {(r.doc_id, r.frame_idx): r.checksum for r in out}
    # position weighting: "xy" = [120,121] -> (121*1 + 122*2) = 365;
    # a swap would give (122*1 + 121*2) = 364
    assert cks[(2, 0)] == 365
    # frame 3 of doc 1: bytes 768..999 -> 232 'a's (97) ->
    # 98 * sum(1..232)
    assert cks[(1, 3)] == 98 * (232 * 233 // 2)


def test_multimodal_resize_grid_bucket_means(spark):
    """resize_payload_grid: byte j -> bucket j*m//n, mean byte / 255;
    empty payload -> all zeros; payload shorter than the grid leaves
    empty buckets at exactly 0.0."""
    from mozart_etl_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(1, "ab"), (2, None)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.thumb
        for r in mm.resize_payload_grid(mm.attach_binary_payload(docs)).collect()
    }
    # "ab" = bytes 97, 98; n=2: byte0 -> bucket 0, byte1 -> bucket m//2
    m = mm._GRID_DIMS
    want = [0.0] * m
    want[0], want[m // 2] = 97 / 255.0, 98 / 255.0
    assert out[1] == want
    assert out[2] == [0.0] * m
