"""Property-based tests (hypothesis) for the corpus operators.

Pure-function properties run at full example counts; Spark-backed
properties run a reduced count (one Spark job per example) against an
independent pure-Python model of the semantics.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from mozart_etl_spark.operators import corpus as C

# ---------------------------------------------------------------------------
# pure functions: exhaustive
# ---------------------------------------------------------------------------


@given(
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
def test_threshold_hex_monotone(f1, f2):
    """Larger fraction => lexicographically larger (or equal) cut, so
    nested samples are subsets; cuts are 8-char hex or the 'g'
    keep-all sentinel which sorts after every hex string."""
    lo, hi = sorted((f1, f2))
    c_lo, c_hi = C.fraction_threshold_hex(lo), C.fraction_threshold_hex(hi)
    assert c_lo <= c_hi
    for c in (c_lo, c_hi):
        assert c == "g" or (len(c) == 8 and all(ch in "0123456789abcdef" for ch in c))


@given(st.floats(min_value=0.0, max_value=0.999999, allow_nan=False))
def test_threshold_hex_sorts_below_sentinel(f):
    assert C.fraction_threshold_hex(f) < "g"


# ---------------------------------------------------------------------------
# Spark-backed: reduced example counts, checked against a Python model
# ---------------------------------------------------------------------------

_texts = st.lists(
    st.text(alphabet="ab x", min_size=0, max_size=40), min_size=1, max_size=6
)


@settings(max_examples=10, deadline=None)
@given(_texts, st.integers(min_value=1, max_value=7))
def test_chunks_match_python_model(spark, texts, size):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["chunk_len"])
        for r in C.chunk_documents(df, size=size).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        for j in range(0, (len(t) + size - 1) // size):
            piece = t[j * size : (j + 1) * size]
            want[(i, j)] = (piece, len(piece))
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["en", "de"]), st.integers(min_value=0, max_value=900)),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=1, max_value=1000),
)
def test_pack_matches_python_model(spark, rows, budget):
    df = spark.createDataFrame(
        [(i, lang, tok) for i, (lang, tok) in enumerate(rows)],
        "doc_id INT, lang STRING, n_tokens INT",
    )
    got = {
        r["doc_id"]: r["seq_id"]
        for r in C.pack_sequences(df, "lang", "doc_id", "n_tokens", budget).collect()
    }
    offsets: dict[str, int] = {}
    want = {}
    for i, (lang, tok) in enumerate(rows):  # doc_id order == list order
        o = offsets.get(lang, 0)
        want[i] = o // budget
        offsets[lang] = o + tok
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-1000, max_value=1000),  # value (incl. negatives)
            st.integers(min_value=0, max_value=50),        # order key with ties
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=5),
)
def test_global_running_sum_matches_python_model(spark, rows, parts):
    """Property: for any values (negative included), any tie-heavy
    order key, and any partition count, the two-phase prefix sum
    equals the sequential Python cumsum over the total order."""
    df = spark.createDataFrame(
        [(i, v, k) for i, (v, k) in enumerate(rows)], "id BIGINT, v BIGINT, k BIGINT"
    )
    got = {
        r["id"]: r["cum"]
        for r in C.global_running_sum(
            df, ["k", "id"], "v", num_partitions=parts
        ).collect()
    }
    acc, expected = 0, {}
    for i, (v, k) in sorted(enumerate(rows), key=lambda t: (t[1][1], t[0])):
        acc += v
        expected[i] = acc
    assert got == expected


# ---------------------------------------------------------------------------
# span dedup + prefix sum: differential vs independent Python models
# ---------------------------------------------------------------------------

_span_texts = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=6,
)


def _span_model(texts: list[str], n: int, min_df: int):
    """Independent reference for remove_repeated_spans: brute-force
    every n-gram, count distinct docs, cut all but the globally first
    occurrence of each shared span, union overlaps."""
    import hashlib

    words = {i: [w for w in t.split() if w] for i, t in enumerate(texts)}
    occs: dict[str, list[tuple[int, int]]] = {}
    for d, ws in words.items():
        for p in range(1, len(ws) - n + 2):
            occs.setdefault(" ".join(ws[p - 1 : p - 1 + n]), []).append((d, p))
    covered: dict[int, set[int]] = {d: set() for d in words}
    for span, offs in occs.items():
        if len({d for d, _ in offs}) < min_df:
            continue
        first = min(offs)
        for d, p in offs:
            if (d, p) != first:
                covered[d].update(range(p, p + n))
    out = {}
    for d, ws in words.items():
        if not ws:
            continue  # zero-token docs yield no row
        kept = [w for i, w in enumerate(ws, start=1) if i not in covered[d]]
        out[d] = (
            len(kept),
            len(ws) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    return out


@settings(max_examples=8, deadline=None)
@given(_span_texts, st.integers(min_value=2, max_value=4))
def test_remove_repeated_spans_matches_python_model(spark, texts, n):
    """The three-word alphabet forces heavy span collisions, so every
    example exercises shared spans, overlapping cuts, and whole-doc
    removals — against a brute-force reference that shares no code
    with the operator."""
    from mozart_etl_spark.operators.dedup import remove_repeated_spans

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id LONG, text STRING"
    )
    got = {
        r["doc_id"]: (r["n_kept"], r["n_removed"], r["clean_fp"])
        for r in remove_repeated_spans(df, n=n).collect()
    }
    assert got == _span_model(texts, n, min_df=2)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.integers(min_value=-1000, max_value=1000)),
        min_size=1,
        max_size=30,
    )
)
def test_global_running_sum_matches_python_model(spark, values):
    """Exact prefix sums with NULL holes: the two-phase
    range-partition + broadcast-offset implementation must match a
    straight Python cumulative sum ordered by id, with NULLs
    contributing nothing and rows before the first non-NULL summing
    to NULL (SQL running-sum semantics)."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id LONG, v LONG"
    )
    got = {
        r["id"]: r["cum"]
        for r in C.global_running_sum(df, ["id"], "v", num_partitions=4).collect()
    }
    want, acc, seen = {}, 0, False
    for i, v in enumerate(values):
        if v is not None:
            acc += v
            seen = True
        want[i] = acc if seen else None
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15), st.integers(min_value=0, max_value=15)
        ),
        min_size=1,
        max_size=20,
    ),
)
def test_connected_components_matches_union_find(spark, edges):
    """Min-label propagation must agree with an independent
    union-find on arbitrary random graphs — self-loops,
    parallel/reversed edges, long chains (worst-case diameter) and
    multi-component shapes included."""
    from mozart_etl_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "doc_a LONG, doc_b LONG")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15), st.integers(min_value=0, max_value=15)
        ),
        min_size=1,
        max_size=20,
    ),
    st.sets(st.integers(min_value=0, max_value=25), max_size=15),
)
def test_connected_components_total_coverage_matches_union_find(spark, edges, extra):
    """The nodes= total-coverage option (r9 verdict: the keep-list
    contract, lifted from a docstring note into the operator): every
    universe node outside the edge set must come back as its own
    singleton component, edge-connected nodes must carry exactly the
    union-find label, duplicate universe rows must not duplicate
    output rows, and NULL universe ids are excluded (NULL-identity
    policy). The universe is the edge nodes plus arbitrary extras —
    extras overlapping edge nodes exercise the coalesce path staying
    label-side."""
    from mozart_etl_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "doc_a LONG, doc_b LONG")
    edge_nodes = {n for e in edges for n in e}
    universe = sorted(edge_nodes | extra)
    nodes_df = spark.createDataFrame(
        # duplicates + a NULL id: both must be output-neutral
        [(n,) for n in universe] + [(universe[0],), (None,)],
        "doc_id LONG",
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, nodes=nodes_df).collect()
    }

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) if n in parent else n for n in universe}
    assert got == want


def test_connected_components_total_coverage_keeps_foreign_edge_nodes(spark):
    """Advisor pin (r11): an edge node ABSENT from the supplied
    universe must keep its component row — the previous left-join
    shape silently dropped it, so a caller passing a filtered or
    stale universe lost whole components with no signal. Coverage is
    total from both sides: labeled edge nodes pass through whole,
    universe-only nodes become singletons, each node exactly once."""
    from mozart_etl_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(10, 11), (11, 12)], "doc_a LONG, doc_b LONG")
    # node 12 is missing from the universe (stale keep-list input)
    nodes = spark.createDataFrame([(10,), (11,), (99,)], "doc_id LONG")
    rows = connected_components(edges, nodes=nodes).collect()
    got = {r["node"]: r["component"] for r in rows}
    assert len(rows) == len(got), "a node appeared twice"
    assert got == {10: 10, 11: 10, 12: 10, 99: 99}


@settings(max_examples=10, deadline=None)
@given(
    _texts,
    st.integers(min_value=2, max_value=7),
    st.integers(min_value=1, max_value=7),
)
def test_overlapping_chunks_match_python_model(spark, texts, size, stride):
    """Sliding-window chunking (stride < size overlaps, == size is
    contiguous): a window starts at every multiple of stride below the
    text length; the final window may be short."""
    if stride > size:
        stride = size
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id INT, text STRING"
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["chunk_len"])
        for r in C.chunk_documents(df, size=size, stride=stride).collect()
    }
    want = {}
    for i, t in enumerate(texts):
        for j, start in enumerate(range(0, len(t), stride)):
            piece = t[start : start + size]
            want[(i, j)] = (piece, len(piece))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),                      # user
            st.integers(min_value=0, max_value=9),                      # ts (tight: forces ties)
            st.sampled_from(["view", "click", "purchase", "other"]),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_funnel_stage_times_match_python_model(spark, rows):
    """Strict-sequence funnel vs an independent greedy model: events
    sort by (ts, type string); stage i needs a prior stage i-1 time
    and strictly-greater ts (a same-timestamp event can't advance the
    funnel); non-stage events are ignored. The tight ts range makes
    ties and same-ts stage chains common."""
    from mozart_etl_spark.operators.events import funnel_stage_times

    df = spark.createDataFrame(rows, "user_id LONG, ts_us LONG, event_type STRING")
    got = {
        r["user_id"]: (r["view"], r["click"], r["purchase"])
        for r in funnel_stage_times(df).collect()
    }

    stages = ["view", "click", "purchase"]
    users = sorted({u for u, _, t in rows if t in stages})
    want = {}
    for u in users:
        seq = sorted((ts, t) for uu, ts, t in rows if uu == u and t in stages)
        times: list = [None, None, None]
        for ts, t in seq:
            for i, stage in enumerate(stages):
                if (
                    times[i] is None
                    and t == stage
                    and (i == 0 or (times[i - 1] is not None and ts > times[i - 1]))
                ):
                    times[i] = ts
                    break  # one event advances at most one stage
        want[u] = tuple(times)
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.text(alphabet="aB c.!", min_size=0, max_size=8), min_size=0, max_size=5),
    st.lists(st.text(alphabet="aB c.!", min_size=0, max_size=8), min_size=1, max_size=8),
)
def test_novel_documents_match_python_model(spark, hist_texts, batch_texts):
    """Incremental novelty filter vs a Python model of the same
    contract: normalized fingerprint (lowercased alphanumeric
    skeleton, md5), drop anything whose fp is in history, keep only
    the lowest-id copy within the batch. The tiny alphabet with
    case/punctuation makes normalization collisions routine."""
    import hashlib
    import re

    from mozart_etl_spark.operators.dedup import novel_documents

    hist = spark.createDataFrame(
        [(i, t) for i, t in enumerate(hist_texts)], "doc_id LONG, text STRING"
    )
    batch = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batch_texts)], "doc_id LONG, text STRING"
    )
    got = {r["doc_id"] for r in novel_documents(batch, hist).collect()}

    def fp(t: str) -> str:
        return hashlib.md5(re.sub("[^0-9A-Za-z]", "", t).lower().encode()).hexdigest()

    hist_fps = {fp(t) for t in hist_texts}
    want, seen = set(), set()
    for i, t in enumerate(batch_texts):  # ascending id = batch tiebreak order
        f = fp(t)
        if f in hist_fps or f in seen:
            continue
        seen.add(f)
        want.add(i)
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=25),
    st.integers(min_value=1, max_value=4),
    st.sampled_from([1, 3, 8]),
)
def test_cap_per_group_matches_python_model(spark, groups, cap, salt_buckets):
    """Per-group cap vs a Python replica of the deterministic hash
    order: members sort by (md5('cap0:'||id)[:8], id) within their
    group; at most cap survive, rn is the 1-based rank. The salted
    pre-prune must be output-invisible at any salt count, the
    degenerate 1-bucket case included — same replica, no changes."""
    import hashlib

    rows = [(g, i) for i, g in enumerate(groups)]
    df = spark.createDataFrame(rows, "grp INT, id LONG")
    got = {
        (r["grp"], r["id"], r["rn"])
        for r in C.cap_per_group(
            df, "grp", "id", cap=cap, salt_buckets=salt_buckets
        ).collect()
    }

    want = set()
    for g in set(groups):
        members = sorted(
            (hashlib.md5(f"cap0:{i}".encode()).hexdigest()[:8], i)
            for gg, i in rows
            if gg == g
        )
        for rn, (_, i) in enumerate(members[:cap], start=1):
            want.add((g, i, rn))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30, unique=True))
def test_shuffle_order_matches_python_model(spark, ids):
    """The deterministic epoch shuffle is exactly the (md5 draw, id)
    total order — same permutation in Python."""
    import hashlib

    df = spark.createDataFrame([(i,) for i in ids], "id LONG")
    got = [r["id"] for r in C.shuffle_order(df, "id").collect()]
    want = [
        i
        for _, i in sorted(
            (hashlib.md5(f"epoch0:{i}".encode()).hexdigest()[:8], i) for i in ids
        )
    ]
    assert got == want
