"""Run EVERY registered query against the edge-injected variant data.

Companion to tools/variant_testdata.py: derives the variant from a
driver sf dir, then replays the full oracle comparison on it —
Spark-vs-DuckDB equality must hold on edge-injected data too (NULLs,
whitespace-only docs, duplicate texts, zero vectors, permuted row
order). CI pins the edge-sensitive queries each run
(tests/test_variant_robustness.py); this sweep covers the whole
registry once per round.

Usage: python tools/variant_sweep.py [SRC_SF_DIR] [edges|skew|empty]

Round log (full-registry sweeps):
- r13, float-key axis injections added to ``edges`` (NaN / -0.0 /
  +0.0 across c_acctbal, o_totalprice, l_extendedprice, l_discount,
  p_retailprice, events.value — masks in variant_testdata.py): the
  first sf0.001 sweep found DuckDB's corr/stddev RAISING on the NaN
  measure where Spark yields NaN (lineitem_stats — second-moment
  NaN-exclusion contract added both sides), and the first sf0.01
  sweep found the ±0.0 min/max representative split
  (order_price_buckets: Spark '0' vs DuckDB '-0' — `+ 0.0`
  normalization added both sides). After the contracts: edges AND
  skew at BOTH sf0.001 and sf0.01 — 105 queries each, ZERO
  divergences (268/281/118/169 s). The five newly-oracled
  approximate queries (dedup_minhash_lsh, dedup_simhash,
  knn_lsh_cosine, knn_ivf_cosine, dedup_embedding_lsh) took their
  first-ever oracle comparison on variant data in these sweeps.
- r12, ragged-dimension embeddings (truncated dim-32 / extended
  dim-96 / empty-list vectors) + giant documents (~2 MB unique-vocab
  id 29 + boilerplate id 38) added to ``edges``: ZERO divergences at
  sf0.001 (558 s) AND sf0.01 (519 s). The giant docs first DETONATED
  five mechanisms before the sweeps could run — the minhash/simhash
  per-row fold matrices, the chunker's generator-row text copy +
  O(offset) substr, Spark regexp_replace per-match overhead, DuckDB
  list-slice-in-lambda O(n²) in the shingle/span/byte oracles, and
  cooccurrence_pmi's Σ|V_d|² pair join — each fixed to a linear form
  (COVERAGE.md Round-12); sweep runtime is now bounded (~9 min/SF
  with two outsized docs in every text query, vs the pre-fix sweep
  that never finished).
- r12, integer-overflow injections added to ``edges`` (near-int64-max
  n_chars incl. exactly 2^63-1, INT32_MAX p_size, ~1e9 legal-extreme
  balances): ZERO divergences on first sweep at sf0.001 (83 s) AND
  sf0.01 (115 s) — measured confirmation that the bank never folds a
  stored integer into a BIGINT accumulator (the only integer
  accumulations are running sums of tokenizer output, bounded by
  text length; stored integers only flow through filters, double
  divisions, order statistics, and stringification, which the sweep
  proves parity-exact at extreme magnitudes). The posture split a
  fold WOULD hit — Spark ANSI-throw (query-global) vs DuckDB HUGEINT
  per-group promotion — is pinned at the primitive level with the
  widened_sum opt-out in tests/test_overflow_parity.py, and
  spark.sql.ansi.enabled=true is now an engine conf
  (session.py RUNTIME_CONFS), not an ambient default.
- r5: sf0.001 edges variant, 105 queries, zero divergences (103 s).
- r5: sf0.01 edges variant, 105 queries, zero divergences (170 s).
- r5: sf0.001 skew variant (90%-hot user / 60%-hot source /
  50%-hot customer / 75%-hot part), 105 queries, zero divergences (80 s).
- r5: sf0.01 skew variant, 105 queries, zero divergences (85 s).
- r5: sf0.001 edges variant with multilingual unicode injections
  (accented Latin / Greek / CJK / Cyrillic / ligatures+sharp-s in
  1-in-23 docs), 105 queries, zero divergences (69 s).
- r5 (post Arrow-kernel rework of minhash/simhash/lsh_banded +
  typo-pair/profile plan fixes): sf0.001 edges AND skew variants
  re-swept at HEAD — 105 queries each, zero divergences (68 s / 67 s);
  sf0.01 driver-gate simulation also green at HEAD (bad = [], 69 s).
- r7 final HEAD (post threshold-resolved banding, staged exact-dup
  collapse, and off-by-default hot-bucket caps): edges AND skew at
  BOTH sf0.001 and sf0.01 — 105 queries each, zero divergences
  (65/67/66/73 s); sf0.01 driver-gate simulation green at the same
  HEAD (bad = []).
- r6 (post scaled-twin injection into dedup_embedding_lsh, salted
  corpus_source_cap, pointer-mode components): edges AND skew
  variants at BOTH sf0.001 and sf0.01 — 105 queries each, zero
  divergences (61/63/63/65 s); sf0.01 driver-gate simulation green
  (bad = [], dedup_embedding_lsh now 20 rows instead of 0);
  partitioning-invariance green under local[4]+shuffle=3 and
  local[16]+AQE-off+shuffle=64 (bad = [] both); full sf0.01 gate also
  green under SPARK_GRAFT_FOLD_IMPL=jvm with identical rows-only
  counts to the Arrow default.
- r8 final HEAD (post collapse+cap flip of dedup_embedding_lsh,
  degenerate-input hardening, cap-window relocation): edges AND skew
  at BOTH sf0.001 and sf0.01 — 105 queries each, zero divergences
  (80/74/82/95 s); sf0.01 driver-gate simulation green (bad = [],
  144 s, tools/gate_sim.py); partitioning-invariance green under
  local[4]+shuffle=3 and AQE-off+shuffle=64; full sf0.01 gate green
  under SPARK_GRAFT_FOLD_IMPL=jvm — rows-only counts bit-identical
  across all four gate configurations.
- r8, NEW ``empty`` profile (zero-row facts, dims intact): the first
  sweep found 2 REAL divergences — Spark's Expand-based rollup()/
  cube() return 0 rows on empty input where ANSI (and DuckDB) emit
  the grand-total row. Fixed by the re-aggregation cascade
  (operators/agg.py); post-fix: empty at sf0.001 AND sf0.01 — 105
  queries each, zero divergences (57/57 s); edges+skew re-swept at
  sf0.001 after the query change, zero divergences (87/80 s). No
  other operator crashed or diverged on an empty corpus (parameter
  resolvers, Arrow kernels over zero batches, norm guards all hold).
- r9, NULL event-timestamp injection added to ``edges`` (event_id %
  41 == 17): found the six predicted REAL divergences (asof_click_view,
  events_markov_transitions, events_sessionize, streaming_sessionize,
  streaming_hourly_counts, streaming_continuous_aggregate) — Spark
  windows order NULLS FIRST asc vs DuckDB NULLS LAST, and Spark's
  time/session windows implicitly drop NULL event-time rows SQL
  keeps. Fixed by explicit per-operator NULL-ts decisions in BOTH
  engines (exclude / NULLS LAST / faithful NULL group — see operator
  docstrings); post-fix edges sweeps green at sf0.001 AND sf0.01.
- r9, orphan-FK / NULL-key injection added to ``edges`` (NULL
  user_id / o_custkey / source / l_partkey): found 2 REAL bugs —
  events_funnel pooled a phantom NULL user through every stage while
  its oracle's USING-join chain dropped it after stage 1, and
  sample_temperature silently deleted the NULL stratum via a plain
  equi-join-back in BOTH engines (fixed with a NULL-safe <=> join).
  Decision generalized engine-wide (operators/events.py): sequence
  operators exclude NULL identity, group aggregates keep the NULL
  group. Post-fix, all six sweeps at final r9 HEAD — edges, skew,
  empty at BOTH sf0.001 and sf0.01 — 105 queries each, zero
  divergences (100/95, 91/96, 65/61 s); sf0.01 driver-gate
  simulation green (bad = [], 77 s) and green under local[4]+
  shuffle=3, AQE-off+shuffle=64, and SPARK_GRAFT_FOLD_IMPL=jvm with
  rows-only counts bit-identical across all four configurations.
- r9, NaN-poisoned-embedding injection added to ``edges`` (vec_id %
  107 == 13, one NaN component): a class the oracle diff CANNOT
  catch — both engines rank NaN above every real cosine and pass it
  through >= thresholds, so the corruption is consistent-but-wrong.
  Fixed policy-first (operators/similarity.py: corrupt vectors never
  score/match/contribute; quantize emits NULL-marked rows),
  symmetric guards in all four affected oracles; post-fix edges
  sweeps green at sf0.001 AND sf0.01, and the full final-HEAD
  re-stamp (all six sweeps + four gate configs) reran green at
  4f9039f (108/127, 143/114, 73/85 s; gates 134/128/122/111 s,
  rows-only bit-identical).
- r8, NULL-text injection added to ``edges`` (doc_id % 31 == 13):
  found 2 oracle-side divergences — text_rolling_hash's oracle
  collapsed NULL text to hash('')=0 and text_repetition_stats'
  zero-token coalesces turned NULL-text stats into 0s; the Spark
  operators were already NULL-faithful. Oracles fixed (inert on
  NULL-free driver data, re-verified hash-green at both SFs);
  post-fix edges sweeps green at sf0.001 AND sf0.01 (111/250 s,
  zero divergences).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gate_sim import gate  # noqa: E402
from tools.variant_testdata import main as make_variant  # noqa: E402

from mozart_etl_spark import querybank  # noqa: E402
from mozart_etl_spark.session import get_spark  # noqa: E402


def main(src: str, profile: str = "edges") -> int:
    dst = tempfile.mkdtemp(prefix=f"variant_{profile}_")
    make_variant(src, dst, profile)

    spark = get_spark(app_name="variant-sweep", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    # a rows-only query must run, but may return no rows on a variant
    # (the empty profile empties every table)
    bad, _rows_only = gate(spark, dst)
    print(f"swept {len(querybank.REGISTRY)} queries in {time.time() - t0:.0f}s; "
          f"{len(bad)} divergence(s)")
    for name, msg in bad:
        print(f"DIVERGED {name} :: {msg[:250]}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(
        main(
            sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001",
            sys.argv[2] if len(sys.argv) > 2 else "edges",
        )
    )
