"""Derive a perturbed variant of the driver testdata for robustness runs.

The driver generates its parquet with one fixed seed, so a query can
be "green" only because seed-42 data never exercises an edge (no
NULLs, no boundary whitespace, no zero vectors, no duplicate texts).
There is no second-seed generator in the sandbox, so this tool derives
a variant FROM the driver's own tables with deterministic,
edge-injecting transforms and writes it to a scratch directory; the
oracle harness then re-runs every query against the variant —
Spark-vs-DuckDB equality must hold on this data too.

Injected edges (all keyed on stable id columns, so runs are
reproducible without any RNG):

- global deterministic row-order permutation (md5 of row index) —
  flushes accidental dependence on parquet row order;
- documents: boundary-whitespace wrapping, whitespace-only texts,
  exact-duplicate texts copied from other rows, NULL lang;
- documents unicode axis (r11): NFC/NFD twin documents (same visible
  text, different codepoint sequences — adjacent ids d≡11,12 mod 53),
  CJK spans with no internal spaces, astral-plane emoji runs (ZWJ
  family sequence, regional-indicator flag), combining-mark stacks,
  non-ASCII whitespace (NBSP U+00A0, ideographic space U+3000 —
  token-INTERNAL by contract: \\s is ASCII-only in both Java regex
  and RE2), and the two MEASURED case-mapping divergence classes:
  Turkish dotted İ (Spark lower → 'i'+combining dot, DuckDB → 'i')
  and Greek word-final Σ (Java applies the context-sensitive
  final-sigma rule Σ→ς, utf8proc maps Σ→σ unconditionally). The
  divergent classes are injectable because every lower() consumer in
  the bank is structurally immune — the canonical fingerprint strips
  non-[0-9A-Za-z] BEFORE lowering, language-ID/stopword checks are
  ASCII-anchored LIKE/set membership — so the sweep staying green IS
  the engine-wide immunity proof (tests/test_unicode_parity.py pins
  the boundary itself; any future operator that emits lowered raw
  text must normalize its source at ingest or keep İ/Σ out);
- customer/orders/part/supplier/events: NULLs in non-key columns,
  negative balances, trailing/doubled spaces in names, lowercased
  flag values, fractional quantities, timestamp shift, NULL event
  timestamps (time-ordered operators must decide their NULL-ts
  semantics explicitly — Spark and DuckDB default to opposite NULL
  sort positions);
- embeddings: negated vectors, all-zero vectors (cosine guard), NULL
  labels, NaN-poisoned components (r9: NaN outranks every real
  cosine in BOTH engines — scorers must exclude corrupt vectors by
  policy, see operators/similarity.py), ±Inf-poisoned components
  (r10: Inf passes NaN-only guards and reaches the same NaN at the
  cosine division — same policy class), FLT_MAX-scale legal-extreme
  components (r10: must NOT be excluded — the corrupt class starts
  at |x| > sqrt(DBL_MAX), unreachable from this float32 column);
- NULL join/grouping keys (r9 orphan-FK axis): events.user_id,
  orders.o_custkey, documents.source, lineitem.l_partkey — the
  late-arriving-dimension / orphaned-fact-row shape every 100 TB
  pipeline eventually ingests. SQL semantics are identical in both
  engines (inner joins drop NULL keys, GROUP BY keeps one NULL
  group, PARTITION BY windows group NULLs together), so any
  divergence is a real operator bug — the likely victims are
  custom md5-keyed sampling/salting stages where a NULL key
  collapses a concat to NULL;
- duplicate keys (r11 axis): EXACT-copy rows appended to nation
  (key 13), customer (1-in-61), part (1-in-59), supplier (1-in-31),
  documents (1-in-67), events (1-in-71), orders (1-in-73), and
  embeddings (1-in-79) — the replayed-CDC / late-arriving-dimension /
  at-least-once-redelivery duplicate shape. Copies are bit-identical
  in EVERY column (a replay, not an update) so window tie-breaks
  stay value-deterministic across engines while every join fans out:
  two identical rows tie completely in any ORDER BY, so whichever
  copy an engine picks, the emitted values are the same. SQL join
  fan-out semantics agree across engines; the pins guard the custom
  stages — salted_join's every-fact-row-meets-every-replica
  invariant, dedup_canonical's universe dropDuplicates(), exact-dedup
  min-id keep lists, enrichment-join row accounting
  (tests/test_variant_robustness.py). The axis found 6 real
  divergences on first sweep, each now an explicit contract
  (fact-keyed aggregate placement, row-faithful per-row maps,
  identity-keyed duplicate collapse — see the registered-query
  docstrings); the fact/vector tables then swept clean with no
  further contracts needed.

- integer-overflow axis (r12): near-int64-max ``documents.n_chars``
  (doc_id ≡ 21 mod 47, five distinct values incl. exactly 2^63-1 —
  the corrupt byte-count metadata a wrong-unit ingest writes),
  INT32_MAX ``part.p_size`` (p_partkey ≡ 19 mod 47), and
  legal-extreme ~1e9 account balances (customer ≡ 31 mod 53,
  supplier ≡ 7 mod 23 — methodology-safe: sums stay < 4.5e13 where
  round(x,2) is still exact). The bank never folds a stored integer
  into a BIGINT accumulator, so the contract is flow-through
  (filters, double divisions, order statistics, stringification);
  any FUTURE integer fold meets Spark's ANSI ARITHMETIC_OVERFLOW
  here loudly instead of silently diverging from DuckDB's HUGEINT
  promotion (posture pinned in tests/test_overflow_parity.py).

- ragged-dimension embeddings (r12): truncated (dim 32, vec_id ≡ 19
  mod 127), mixed-model-version (dim 96, ≡ 29 mod 137), and
  empty-list (≡ 31 mod 139) vectors — the SHAPE class of the
  corrupt-vector ladder. Entry-excluded by every cross-vector
  operator that declares a model dim; row-faithful through the
  per-row quantize pass (similarity.py module docstring carries the
  full contract).

A second profile, ``skew``, instead rewrites join/grouping keys into
pathological hot-key distributions (~90% of events on one user, ~60%
of documents from one source, ~50% of orders from one customer) while
keeping values untouched — the shape that breaks naive shuffles at
100 TB. The oracle comparison must still hold exactly on it.

A third profile, ``empty``, zeroes out every fact table (customer,
supplier, part, orders, lineitem, events, documents, embeddings)
while keeping the bounded dimensions (region, nation) intact — the
new-tenant / empty-partition shape every 100 TB pipeline eventually
feeds. Schemas are preserved exactly; the oracle comparison must hold
on zero rows too (global aggregates return their SQL-defined
one-row/NULL forms in BOTH engines), and no operator may crash on an
empty corpus (parameter resolvers, Arrow kernels over zero batches,
scalar-broadcast stages).

Usage: python tools/variant_testdata.py SRC_DIR DST_DIR [edges|skew|empty]
"""

from __future__ import annotations

import hashlib
import os
import sys
import unicodedata

import pyarrow as pa
import pyarrow.parquet as pq


def _perm(n: int) -> list[int]:
    return sorted(range(n), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())


def _mask(ids, mod: int, rem: int):
    return [v is not None and int(v) % mod == rem for v in ids]


def _apply(col: list, mask, fn) -> list:
    return [fn(v) if m else v for v, m in zip(col, mask)]


#: duplicate-dimension-key axis (r11): table -> (key col, mod, rem).
#: Rows whose key ≡ rem (mod mod) are appended again as EXACT copies
#: AFTER the per-column edits (so copies carry the same injected edge
#: values) and BEFORE the global permutation (so the twins land far
#: apart in row order). nation's (25, 13) hits exactly nationkey 13 —
#: one duplicated broadcast-dim row fans out nearly every relational
#: query, consistently in both engines. events/orders/embeddings
#: extend the axis to the fact/vector tables: a replayed event is the
#: at-least-once-delivery duplicate every streaming ingest eventually
#: ships (time-ordered operators see zero-gap identical twins and
#: tied ORDER BY rows — ties between bit-identical rows stay
#: value-deterministic); duplicated orders fan out the
#: lineitem/customer joins; duplicated vectors double-weight
#: row-faithful statistics (centroids, per-row quantize) identically
#: in both engines and fully tie in every ranking.
DUP_DIM_KEYS: dict[str, tuple[str, int, int]] = {
    "nation": ("n_nationkey", 25, 13),
    "customer": ("c_custkey", 61, 23),
    "part": ("p_partkey", 59, 17),
    "supplier": ("s_suppkey", 31, 9),
    "documents": ("doc_id", 67, 33),
    "events": ("event_id", 71, 35),
    "orders": ("o_orderkey", 73, 41),
    "embeddings": ("vec_id", 79, 47),
}


def _dup_exact(cols: dict[str, list], key: str, mod: int, rem: int) -> None:
    keep = [
        i
        for i, v in enumerate(cols[key])
        if v is not None and int(v) % mod == rem
    ]
    for c in cols:
        cols[c] = list(cols[c]) + [cols[c][i] for i in keep]


def transform(name: str, tbl: pa.Table) -> pa.Table:
    cols = {c: tbl.column(c).to_pylist() for c in tbl.column_names}
    if name == "documents":
        ids = cols["doc_id"]
        texts = list(cols["text"])
        n = len(texts)
        originals = list(texts)
        order = sorted(range(n), key=lambda i: ids[i])
        # parity-SAFE unicode classes (tests/test_unicode_parity.py)
        unicode_frags = [
            "Héllo WÖRLD",
            "ΣΙΓΜΑ σίγμα",
            "日本語 テスト",
            "ß ﬁligature",
            "Москва́ русский",
        ]
        # r11 hard classes — including the two MEASURED case-mapping
        # divergences (Turkish İ, Greek word-final Σ), injectable
        # because every lower() consumer in the bank is structurally
        # immune (see module docstring); the sweep staying green is
        # the immunity proof. Non-ASCII whitespace (U+00A0/U+3000) is
        # token-INTERNAL by the engine tokenization contract.
        hard_frags = [
            "ΤΕΛΟΣ ΟΔΟΣ ΣΙΓΜΑΣ",           # word-final Σ
            "İstanbul ışık DİYOR",          # Turkish İ / dotless ı
            "日本語のテキスト処理を行う",     # CJK span, no spaces
            "🎉🚀 👩‍👩‍👧 🇺🇸 🎊",           # astral, ZWJ seq, flag pair
            "z̀́̂̃ á é̂ n̈",               # combining-mark stacks
            "a b　c",              # NBSP + ideographic space
        ]
        acc_twin = "Héllo Wörld Café Naïve "  # accented NFC/NFD twin base
        idx_of = {ids[i]: i for i in range(n)}
        for i in range(n):
            d = ids[i]
            if d % 13 == 5:  # exact duplicate of another doc's text
                texts[i] = originals[order[(d * 7) % n]]
            if d % 17 == 7:  # whitespace-only document
                texts[i] = " \t "
            if d % 11 == 3:  # boundary whitespace
                texts[i] = "\n\t " + texts[i] + " \t\n"
            if d % 23 == 9:  # multilingual content through every tokenizer
                texts[i] = unicode_frags[d % 5] + " " + texts[i]
            if d % 37 == 15:  # r11 hard unicode classes
                texts[i] = hard_frags[d % 6] + " " + texts[i]
            # NFC/NFD twin documents (r11): ids d-1 (NFC) and d (NFD)
            # carry the same VISIBLE text with different codepoint
            # sequences — byte-faithful operators must treat them as
            # distinct documents, identically in both engines (exact
            # dedup must NOT collapse them; shingles differ).
            if d % 53 == 11:
                texts[i] = unicodedata.normalize("NFC", acc_twin + (originals[i] or ""))
            if d % 53 == 12 and (d - 1) in idx_of:
                j = idx_of[d - 1]
                texts[i] = unicodedata.normalize("NFD", acc_twin + (originals[j] or ""))
            if d % 31 == 13:  # NULL text — every tokenizer, shingle
                # builder, Arrow kernel, and fingerprint join must
                # treat it as SQL NULL, never as "" (the advisor's
                # exact_collapse NULL-drop came from exactly this edge)
                texts[i] = None
            # giant-document axis (r12): two ~2 MB documents — ~7000x
            # the corpus median — with OPPOSITE internal structure.
            # id 29 is unique-vocabulary (every 3-gram distinct: the
            # worst case for distinct-shingle counts, the per-row
            # minhash/simhash fold matrices, and shingle-distinct
            # shuffle width); id 38 is one phrase repeated (the worst
            # case for per-token vote folds, repetition stats, and
            # hot-shingle document frequency). Fixed ids, not a mod
            # mask: giant-doc COUNT must not scale with SF or the
            # sweep runtime would. Both ids verified clear of every
            # other text edge (no mask above hits 29 or 38). The
            # measured first-to-degrade kernels (minhash arrow fold
            # 149 s, simhash 292 s, multimodal byte loop 153 s at
            # 16 MB) are bounded by _FOLD_SLICE slicing / numpy
            # vectorization; this keeps them measured in every sweep.
            if d == 29:
                texts[i] = " ".join(
                    f"w{(j * 2654435761) % 4093}x{j % 97}q{j}" for j in range(175_000)
                )
            if d == 38:
                texts[i] = (
                    "the quick brown fox jumps over the lazy dog again and again " * 33_000
                )
        cols["text"] = texts
        cols["n_chars"] = [len(t) if t is not None else None for t in texts]
        # integer-overflow axis (r12): near-int64-max n_chars — the
        # corrupt byte-count metadata a bad ingest writes (wrong-unit
        # counter, memory-garbage column). The bank reads, filters,
        # divides by, maxes, and orders by stored integers but never
        # folds one into a BIGINT accumulator (the running token sums
        # accumulate tokenizer output, bounded by text length), so
        # these rows must flow through exactly in both engines; any
        # FUTURE query that sums n_chars will hit Spark's ANSI
        # ARITHMETIC_OVERFLOW loudly in this sweep instead of
        # silently diverging from DuckDB's HUGEINT promotion (the
        # measured posture split, tests/test_overflow_parity.py).
        # d % 5 spreads five distinct near-max values incl. exactly
        # int64-max so ORDER BY sees non-tied extremes.
        cols["n_chars"] = [
            (9223372036854775807 - (d % 5)) if (d is not None and d % 47 == 21) else v
            for d, v in zip(ids, cols["n_chars"])
        ]
        cols["lang"] = _apply(cols["lang"], _mask(ids, 19, 11), lambda v: None)
        # orphan-FK axis (r9): NULL source — stratified sampling,
        # per-source caps, and temperature mixing must treat the NULL
        # stratum as a real SQL group, never drop it via a NULL concat
        cols["source"] = _apply(cols["source"], _mask(ids, 29, 12), lambda v: None)
    elif name == "customer":
        ids = cols["c_custkey"]
        cols["c_acctbal"] = _apply(cols["c_acctbal"], _mask(ids, 29, 0), lambda v: -v)
        cols["c_mktsegment"] = _apply(cols["c_mktsegment"], _mask(ids, 31, 11), lambda v: None)
        cols["c_name"] = _apply(cols["c_name"], _mask(ids, 37, 13), lambda v: v + "  ")
        # integer-overflow axis (r12), legal-extreme balance: ~1e9 is
        # ~10^5x the normal acctbal range but methodology-safe (sums
        # of hundreds of such values stay < 4.5e13 where round(x,2)
        # is still exact — the querybank rounding bound). Extreme
        # balances must flow through filters, deciles, and rounded
        # aggregates identically in both engines, never be dropped.
        cols["c_acctbal"] = _apply(
            cols["c_acctbal"], _mask(ids, 53, 31), lambda v: 999999999.99
        )
        # float-key axis (r13): NaN / -0.0 / +0.0 measures — the
        # corrupt-conversion ingest shape (0/0 divisions, signed-zero
        # exports). The engines AGREE on NaN/±0.0 as join keys and in
        # ORDER BY (NaN greatest, -0.0 = +0.0 ties), on NaN-poisoned
        # sum/avg/max (faithful NaN), and on ntile with a tie-break;
        # they DIVERGE on (a) the rendered representative of a
        # GROUP BY double key containing -0.0 (Spark normalizes to
        # +0.0, DuckDB keeps first-seen bits — arrival-order-
        # dependent) and (b) exact interpolated percentiles under NaN
        # (Spark interpolates over an NaN-last sort, DuckDB returns
        # NaN) — both pinned in tests/test_float_key_parity.py; the
        # bank's policy: never group by a raw double (audited — zero
        # queries do; normalize with `x + 0.0` if a pipeline must),
        # and percentiles exclude NaN as corrupt-measure data
        # (order_price_quantiles carries the guard on both sides).
        # ±0.0 twins sit on ADJACENT ids so deciles/rank tie paths
        # see both bit patterns in one window frame.
        cols["c_acctbal"] = _apply(
            cols["c_acctbal"], _mask(ids, 59, 11), lambda v: float("nan")
        )
        cols["c_acctbal"] = _apply(cols["c_acctbal"], _mask(ids, 61, 13), lambda v: -0.0)
        cols["c_acctbal"] = _apply(cols["c_acctbal"], _mask(ids, 61, 14), lambda v: 0.0)
    elif name == "events":
        import datetime as _dt

        ids = cols["event_id"]
        cols["props"] = _apply(cols["props"], _mask(ids, 19, 4), lambda v: None)
        cols["value"] = _apply(cols["value"], _mask(ids, 23, 6), lambda v: None)
        # float-key axis (r13): NaN / -0.0 event measures — every
        # value-summing consumer (sessionize, batch+streaming running
        # totals, latest-event passthrough) must propagate NaN
        # faithfully in BOTH engines; a kernel that sums with
        # pandas/numpy nan-SKIPPING semantics diverges from SQL SUM
        # here (exactly the class this injection exists to catch)
        cols["value"] = _apply(cols["value"], _mask(ids, 151, 7), lambda v: float("nan"))
        cols["value"] = _apply(cols["value"], _mask(ids, 151, 63), lambda v: -0.0)
        # extreme event timestamps (r11 scout): the corrupt-clock /
        # wrong-unit ingest shape. ts_us = -1 (1969-12-31
        # 23:59:59.999999) is the truncate-vs-floor sentinel — any
        # stage dividing epoch integers with mismatched rounding
        # (Spark div truncates toward zero, as does DuckDB // and its
        # parquet ns->us read; date_trunc/window FLOOR on both sides)
        # diverges on exactly this row; 1902 exercises deep-negative
        # calendar fields; epoch 0 the zero boundary; 2261-04-11 sits
        # just under the int64-NANOS range end, so any stage that
        # multiplies micros back to nanos overflows on it, and a
        # watermark fed by it would drop every genuine event in later
        # micro-batches (the famous future-clock poisoning) — the
        # registered streams are single-batch drains, so they are
        # pinned instead by the batch-twin equality staying exact.
        _extremes = {
            (89, 44): _dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
            (97, 48): _dt.datetime(1902, 7, 4, 3, 21, 13, 500000),
            (101, 50): _dt.datetime(1970, 1, 1, 0, 0, 0, 0),
            (103, 51): _dt.datetime(2261, 4, 11, 23, 47, 16, 854775),
        }
        for (mod, rem), when in _extremes.items():
            cols["ts"] = _apply(cols["ts"], _mask(ids, mod, rem), lambda v, w=when: w)
        # NULL event timestamps (r9 axis) — the one degenerate-input
        # class the r8 sweeps deferred. Spark windows order NULLS
        # FIRST ascending while DuckDB orders NULLS LAST, so every
        # time-ordered operator (sessionize, funnel, asof, lag/lead,
        # retention, tumbling windows) must make an EXPLICIT NULL-ts
        # decision in both engines or this injection diverges it
        cols["ts"] = _apply(cols["ts"], _mask(ids, 41, 17), lambda v: None)
        # orphan-FK axis (r9): NULL user_id — per-user windows must
        # keep the NULL partition (both engines group NULLs together
        # in PARTITION BY); user-keyed joins drop it per SQL
        cols["user_id"] = _apply(cols["user_id"], _mask(ids, 43, 19), lambda v: None)
    elif name == "lineitem":
        ids = cols["l_orderkey"]
        cols["l_quantity"] = _apply(cols["l_quantity"], _mask(ids, 7, 0), lambda v: v + 0.25)
        # float-key axis (r13): NaN extendedprice poisons revenue sums
        # to NaN in BOTH engines (faithful propagation — grouped sums
        # render "NaN" identically); -0.0 discount makes (1-disc)
        # exactly 1.0 in both. Masks keyed on l_orderkey like the
        # fractional-quantity axis so whole orders carry the edge.
        cols["l_extendedprice"] = _apply(
            cols["l_extendedprice"], _mask(ids, 53, 9), lambda v: float("nan")
        )
        cols["l_discount"] = _apply(cols["l_discount"], _mask(ids, 59, 21), lambda v: -0.0)
        cols["l_returnflag"] = _apply(cols["l_returnflag"], _mask(ids, 13, 2), lambda v: v.lower())
        # orphan-FK axis (r9): NULL part reference on a slice of lines
        cols["l_partkey"] = _apply(cols["l_partkey"], _mask(ids, 43, 5), lambda v: None)
    elif name == "orders":
        ids = cols["o_orderkey"]
        cols["o_orderpriority"] = _apply(cols["o_orderpriority"], _mask(ids, 37, 3), lambda v: None)
        # orphan-FK axis (r9): orphaned orders with no customer row
        cols["o_custkey"] = _apply(cols["o_custkey"], _mask(ids, 47, 21), lambda v: None)
        # float-key axis (r13): NaN / ±0.0 order totals — NaN flows
        # through min/max/avg/sum faithfully (both engines agree),
        # lands in the ELSE bucket of every CASE range (NaN < x is
        # FALSE in both), sorts greatest under every ORDER BY, and is
        # EXCLUDED from exact percentiles as corrupt-measure data
        # (the one genuinely divergent consumer — see
        # order_price_quantiles / tests/test_float_key_parity.py)
        cols["o_totalprice"] = _apply(
            cols["o_totalprice"], _mask(ids, 59, 17), lambda v: float("nan")
        )
        cols["o_totalprice"] = _apply(cols["o_totalprice"], _mask(ids, 61, 23), lambda v: -0.0)
        cols["o_totalprice"] = _apply(cols["o_totalprice"], _mask(ids, 61, 24), lambda v: 0.0)
    elif name == "part":
        ids = cols["p_partkey"]
        cols["p_name"] = _apply(cols["p_name"], _mask(ids, 41, 2), lambda v: v.replace(" ", "  "))
        # float-key axis (r13): NaN retail price — ORDER BY DESC puts
        # NaN first in both engines (explicit id tie-breaks already
        # required by the bank); the x1.1 uplift propagates NaN.
        cols["p_retailprice"] = _apply(
            cols["p_retailprice"], _mask(ids, 53, 7), lambda v: float("nan")
        )
        cols["p_type"] = _apply(cols["p_type"], _mask(ids, 43, 3), lambda v: None)
        # integer-overflow axis (r12): INT32_MAX p_size — the int32
        # twin of the n_chars injection. Consumers stringify it, take
        # `% 2`, and range-filter it; none folds it into an int
        # accumulator (Spark widens sum(int) to long anyway). Any
        # future int32 ARITHMETIC on it (p_size * n) throws loudly
        # under the ANSI posture instead of silently diverging from
        # DuckDB's automatic int64 widening.
        cols["p_size"] = _apply(
            cols["p_size"], _mask(ids, 47, 19), lambda v: 2147483647
        )
    elif name == "supplier":
        ids = cols["s_suppkey"]
        cols["s_acctbal"] = _apply(cols["s_acctbal"], _mask(ids, 17, 4), lambda v: None)
        # legal-extreme balance, same contract as customer (r12).
        # No registered query reads s_acctbal today (like the NULL
        # injection above, this is future-proofing): the first query
        # that aggregates supplier balances meets the extreme in the
        # sweep on day one.
        cols["s_acctbal"] = _apply(
            cols["s_acctbal"], _mask(ids, 23, 7), lambda v: 999999999.99
        )
    elif name == "embeddings":
        ids = cols["vec_id"]
        cols["embedding"] = _apply(
            cols["embedding"], _mask(ids, 5, 0), lambda v: [-x for x in v]
        )
        cols["embedding"] = _apply(
            cols["embedding"], _mask(ids, 101, 17), lambda v: [0.0] * len(v)
        )
        # NULL vectors — every LSH plane projection, cosine kernel,
        # centroid mean, and quantizer must treat an absent embedding
        # as SQL NULL (skip/emit-NULL), never as a zero vector
        cols["embedding"] = _apply(cols["embedding"], _mask(ids, 97, 7), lambda v: None)
        # NaN-poisoned vectors (r9 axis): one NaN component — the
        # partial-write / overflow corruption shape. Both engines sort
        # NaN above every real number, so an unguarded scorer ranks
        # the corrupt vector as everyone's best neighbor and passes it
        # through every >= threshold filter IN BOTH ENGINES — only an
        # explicit exclusion policy (similarity.py) catches it
        cols["embedding"] = _apply(
            cols["embedding"],
            _mask(ids, 107, 13),
            lambda v: [float("nan") if i == 0 else x for i, x in enumerate(v)],
        )
        # ±Inf-poisoned vectors (r10 axis): the overflow shape that
        # PASSES any NaN-only component guard — an Inf component makes
        # the norm +Inf and the cosine Inf/Inf = NaN only at scoring
        # time, downstream of isnan() entry checks, where it inherits
        # the full NaN outranking pathology in both engines. The
        # corrupt-vector policy (similarity.py) folds ±Inf into the
        # same entry-exclusion class; +Inf lands on a non-first
        # component so a first-component-only guard can't pass either
        cols["embedding"] = _apply(
            cols["embedding"],
            _mask(ids, 109, 23),
            lambda v: [float("inf") if i == len(v) - 1 else x for i, x in enumerate(v)],
        )
        cols["embedding"] = _apply(
            cols["embedding"],
            _mask(ids, 113, 31),
            lambda v: [float("-inf") if i == 1 else x for i, x in enumerate(v)],
        )
        # LEGAL-extreme component (r10): 1e9 is ~10^9x the normal
        # component range — such vectors are NOT corrupt and must keep
        # scoring identically in both engines (finite norm/cosines,
        # quantize scale 7.87e6). This guards the corrupt-vector
        # policy against OVER-exclusion. Two deliberate bounds on the
        # magnitude: (a) the r10 finite-overflow corrupt class starts
        # at |x| > sqrt(DBL_MAX) ~ 1.34e154, unreachable from float32
        # storage, so it is unit-pinned on array<double> frames
        # instead (tests/test_knn_properties.py); (b) FLT_MAX-scale
        # (~3e38) injections are VALID data but break the oracle
        # METHODOLOGY, not the engines: round(x, 4) is sub-ulp for
        # |x| >~ 4.5e11 (10^4*x no longer exact in a double), and
        # Spark's BigDecimal-exact rounding legitimately differs from
        # DuckDB's multiply-rint in the last bit there — measured
        # live on embedding_centroids means containing a 3e38
        # component (one-ulp mismatch at 4.9e36). 1e9 keeps every
        # downstream 4dp-rounded aggregate inside the exact range.
        cols["embedding"] = _apply(
            cols["embedding"],
            _mask(ids, 131, 57),
            lambda v: [1.0e9 if i == 2 else x for i, x in enumerate(v)],
        )
        # ragged-dimension axis (r12): the SHAPE class of the corrupt-
        # vector ladder — wrong-length vectors from a truncated write
        # (dim 32), a mixed model version (dim 96), and the
        # empty-but-not-NULL list. Value guards cannot see them (clean
        # finite norms) and the engines don't even agree on HOW to
        # fail: Spark's zip_with dot NULL-pads, DuckDB's
        # list_dot_product errors the whole query, and the two
        # lsh_banded impls diverged from each other (arrow raised, JVM
        # silently bucketed at zero bits). Contract: entry-excluded
        # wherever a model dim is declared (similarity._dim_ok — every
        # cross-vector scorer/centroid/bander), row-faithful in the
        # per-row quantize store pass. Applied AFTER the value classes
        # so the composition is arbitrary (a truncated vector may keep
        # or lose its poisoned component — excluded either way); None
        # guards because earlier masks NULL whole vectors.
        cols["embedding"] = _apply(
            cols["embedding"], _mask(ids, 127, 19), lambda v: v[:32] if v is not None else None
        )
        cols["embedding"] = _apply(
            cols["embedding"],
            _mask(ids, 137, 29),
            lambda v: v + v[:32] if v is not None else None,
        )
        cols["embedding"] = _apply(
            cols["embedding"], _mask(ids, 139, 31), lambda v: [] if v is not None else None
        )
        cols["label"] = _apply(cols["label"], _mask(ids, 103, 29), lambda v: None)

    if name in DUP_DIM_KEYS:
        _dup_exact(cols, *DUP_DIM_KEYS[name])
    out = pa.Table.from_pydict(
        {c: pa.array(cols[c], type=tbl.schema.field(c).type) for c in tbl.column_names},
        schema=pa.schema([tbl.schema.field(c) for c in tbl.column_names]),
    )
    return out.take(_perm(out.num_rows))


def transform_skew(name: str, tbl: pa.Table) -> pa.Table:
    """Hot-key rewrite: collapse most rows of each grouping/join key
    onto one value, deterministically by row id. FK integrity holds —
    hot targets are existing keys, never fabricated ones."""
    cols = {c: tbl.column(c).to_pylist() for c in tbl.column_names}
    if name == "events":
        ids, users = cols["event_id"], cols["user_id"]
        hot = min(users)
        cols["user_id"] = [hot if int(i) % 10 < 9 else u for i, u in zip(ids, users)]
    elif name == "documents":
        ids, srcs = cols["doc_id"], cols["source"]
        hot = min(srcs)
        cols["source"] = [hot if int(i) % 10 < 6 else s for i, s in zip(ids, srcs)]
    elif name == "orders":
        ids, custs = cols["o_orderkey"], cols["o_custkey"]
        hot = min(custs)
        cols["o_custkey"] = [hot if int(i) % 2 == 0 else c for i, c in zip(ids, custs)]
    elif name == "lineitem":
        ids, parts = cols["l_orderkey"], cols["l_partkey"]
        hot = min(parts)
        cols["l_partkey"] = [hot if int(i) % 4 < 3 else p for i, p in zip(ids, parts)]
    out = pa.Table.from_pydict(
        {c: pa.array(cols[c], type=tbl.schema.field(c).type) for c in tbl.column_names},
        schema=pa.schema([tbl.schema.field(c) for c in tbl.column_names]),
    )
    return out.take(_perm(out.num_rows))


#: bounded dimension tables that stay populated in the ``empty``
#: profile — at any scale these exist before the first fact row lands
EMPTY_KEEP = {"region", "nation"}


def transform_empty(name: str, tbl: pa.Table) -> pa.Table:
    """Zero-row fact tables with schemas preserved exactly."""
    return tbl if name in EMPTY_KEEP else tbl.slice(0, 0)


def main(src: str, dst: str, profile: str = "edges") -> None:
    fn = {"edges": transform, "skew": transform_skew, "empty": transform_empty}[profile]
    os.makedirs(dst, exist_ok=True)
    for fname in sorted(os.listdir(src)):
        if not fname.endswith(".parquet"):
            continue
        name = fname[: -len(".parquet")]
        tbl = pq.read_table(os.path.join(src, fname))
        pq.write_table(fn(name, tbl), os.path.join(dst, fname))
        print(f"{name}: {tbl.num_rows} rows", file=sys.stderr)


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit("usage: variant_testdata.py SRC_DIR DST_DIR [edges|skew|empty]")
    main(sys.argv[1], sys.argv[2], sys.argv[3] if len(sys.argv) == 4 else "edges")
