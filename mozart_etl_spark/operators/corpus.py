"""Corpus-preparation operators for training-data pipelines.

The sampling / ordering / chunking / packing steps every large-scale
LLM data pipeline runs between "raw documents" and "training
sequences", built as pure JVM column expressions (no Python in the
row path) so they run at 100 TB:

- **Deterministic hash sampling** — reproducible Bernoulli sampling
  (and per-stratum rebalancing) keyed on ``md5(seed:id)``, so the
  same (seed, id) always lands on the same side of the cut, across
  engines, re-runs, and cluster sizes. No RNG state, no
  ``sample()`` nondeterminism under task retries.
- **Deterministic corpus shuffle** — global training order as
  ``ORDER BY md5(seed:id)``. Spark executes this as a range-
  partitioned distributed sort (sampled boundaries), which is the
  standard way to shuffle a corpus that does not fit on one node;
  re-shuffling between epochs = bump the seed.
- **Fixed-size chunking** — split each document into contiguous
  character windows (context-window preparation) with
  ``posexplode(sequence(...))`` — one generated row per chunk, no
  UDF.
- **Offset-based sequence packing** — assign documents to
  fixed-token-budget training sequences by cumulative token offset
  within a stream (greedy contiguous packing). One window scan per
  stream; streams (e.g. language, or a hash bucket for unbounded
  corpora) pack in parallel.
- **Salted join** — skew-proof fact×dim equi-join: the fact side
  salts each *row* (hash of a row id, NOT the join key — salting by
  key would put every row of a hot key in one salt and change
  nothing), the dim side replicates ``n_salts`` ways, and the join
  key becomes (key, salt) so a hot key spreads over ``n_salts``
  reducers. Result is provably identical to the plain join.

There is no counterpart in the reference (it delegates all compute to
Trino); these extend the engine the way SURVEY.md §2's "beyond the
reference" section describes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: 16^8 — the hash-fraction space: first 8 hex chars of md5.
_HASH_SPACE = 16**8


def hash_bucket_hex(id_col: Column, seed: str) -> Column:
    """First 8 hex chars of ``md5(seed + ':' + id)`` — a deterministic
    uniform draw in [0, 16^8) encoded as a fixed-width lowercase hex
    string, identical in Spark and any ANSI engine with ``md5``
    (DuckDB oracle parity is what makes the sampling queries
    hash-checkable)."""
    return F.substring(F.md5(F.concat(F.lit(seed + ":"), id_col.cast("string"))), 1, 8)


def fraction_threshold_hex(fraction: float) -> str:
    """Hex cut-point such that P[hash_bucket_hex < cut] == fraction.

    Fixed-width lexicographic compare == numeric compare for 8-char
    lowercase hex. ``fraction >= 1`` returns ``"g"``, which sorts
    after every hex string (keep-everything sentinel).
    """
    if fraction >= 1.0:
        return "g"
    if fraction <= 0.0:
        return "00000000"
    return format(int(fraction * _HASH_SPACE), "08x")


def sample_stratified(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    seed: str = "s0",
) -> DataFrame:
    """Per-stratum deterministic sampling — the corpus-rebalancing
    primitive (e.g. downsample the dominant language, keep the rest).

    ``fractions`` maps stratum value -> keep fraction; strata not
    listed are kept whole. Keep iff the row's md5 draw
    (:func:`hash_bucket_hex`) falls below its stratum's cut: a pure
    filter, stable under task retries, AQE re-planning and partition
    count. One filter expression, no shuffle, no per-stratum pass.
    """
    cut = F.lit(fraction_threshold_hex(1.0))
    for value, frac in sorted(fractions.items()):
        cut = F.when(
            F.col(strata_col) == value, F.lit(fraction_threshold_hex(frac))
        ).otherwise(cut)
    return df.filter(hash_bucket_hex(F.col(id_col), seed) < cut)


def weighted_priority(id_col: Column, weight_col: Column, seed: str) -> Column:
    """Efraimidis–Spirakis weighted-sampling priority: ``ln(u) / w``
    with ``u`` the deterministic md5 draw mapped to (0, 1).

    Taking the k LARGEST priorities is a weighted random sample
    without replacement where P[i in sample] follows the w_i-weighted
    successive-draw process (ES key ``u^(1/w)``; ``ln`` is monotone so
    the ordering is identical and numerically safer). Deterministic:
    the draw is ``(hex_to_int(md5(seed:id)) + 0.5) / 16^8`` — exact in
    any engine with ``md5`` + IEEE doubles, so the sample itself is
    oracle-checkable, unlike RNG-state sampling.
    """
    h = F.conv(hash_bucket_hex(id_col, seed), 16, 10).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(_HASH_SPACE))
    return F.log(u) / weight_col.cast("double")


def sample_weighted_topk(
    df: DataFrame, id_col: str, weight_col: str, k: int, seed: str = "w0"
) -> DataFrame:
    """Weighted sample WITHOUT replacement of exactly ``k`` rows
    (weight-proportional, e.g. length-weighted corpus subsampling).

    Adds ``priority`` and keeps the top-``k`` (ties broken by id).
    Scale: ``orderBy().limit(k)`` compiles to TakeOrderedAndProject —
    each task keeps a k-row heap and only k rows per partition reach
    the driver-side merge; there is NO global sort shuffle, so this is
    safe at any corpus size for the k (10^3..10^6) a sampling pass
    uses.
    """
    pri = weighted_priority(F.col(id_col), F.col(weight_col), seed)
    return df.withColumn("priority", pri).orderBy(F.desc("priority"), F.col(id_col)).limit(k)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    cap: int,
    seed: str = "cap0",
    salt_buckets: int = 8,
) -> DataFrame:
    """Per-group document cap: keep at most ``cap`` rows per group, the
    members chosen by deterministic hash order (the per-domain cap every
    web-crawl pipeline applies so one hot domain cannot dominate the
    corpus).

    Adds ``rn`` (1-based rank within the group's hash order). Two
    windows, so a pathologically hot group never sorts whole on one
    reducer: a first window on ``(group, xxhash64(id) % salt_buckets)``
    keeps only each salt's top-``cap`` in the SAME order before the
    per-group window runs on the <= cap * salt_buckets survivors. The
    output equals a single per-group window's, ``rn`` included: a row
    with global rank g <= cap has per-salt rank <= g (rows ahead of it
    in its salt are a subset of rows ahead of it globally), so every
    globally-kept row survives the prune — and every row ahead of a
    kept row is itself globally ranked < cap, hence also kept, so the
    final window sees all of a kept row's predecessors and assigns the
    same ``rn``. Equality with a plain window is pinned (hot-key data
    included) in tests/test_corpus.py.
    """
    order = [hash_bucket_hex(F.col(id_col), seed), F.col(id_col)]
    if "_salt_rn" in df.columns:
        # withColumn would silently clobber it and drop() would then
        # delete the caller's data
        raise ValueError(
            "cap_per_group uses '_salt_rn' as a scratch column; rename the "
            "input's _salt_rn column first"
        )
    # salt on the id, not the order hash: any deterministic function of
    # the row works, and xxhash64 stays JVM-side
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(salt_buckets))
    ws = Window.partitionBy(F.col(group_col), salt).orderBy(*order)
    df = (
        df.withColumn("_salt_rn", F.row_number().over(ws))
        .filter(F.col("_salt_rn") <= cap)
        .drop("_salt_rn")
    )
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= cap)
    )


def shuffle_order(df: DataFrame, id_col: str, seed: str = "epoch0") -> DataFrame:
    """Deterministic global shuffle: total order by the hash draw
    (ties broken by id so the order is a total order even under hash
    prefix collisions). Spark plans this as a range-partitioned sort —
    the scalable way to lay out a training epoch; a new ``seed`` is a
    new epoch permutation."""
    key = hash_bucket_hex(F.col(id_col), seed)
    return df.withColumn("shuffle_key", key).orderBy("shuffle_key", id_col)


def chunk_documents(df: DataFrame, size: int = 500, stride: int | None = None) -> DataFrame:
    """Split each document's ``text`` into fixed-size character chunks
    (context-window preparation). Output one row per chunk:
    ``(doc_id, chunk_id, chunk_text, chunk_len)``; the final chunk may be
    short. ``stride`` (default ``size``) < ``size`` gives overlapping
    sliding windows — the RAG-style chunking that preserves context
    across boundaries; a window starts at every multiple of ``stride``
    below the text length. Generated columns only — ``posexplode``
    over a ``sequence`` range, so codegen keeps the whole operator
    JVM-side.

    Linear in document length (r12 giant-document axis). The obvious
    formulation — posexplode a chunk INDEX and compute
    ``substr(text, chunk_id*stride+1, size)`` above the generator —
    is O(L²/stride) PER DOCUMENT twice over: GenerateExec copies
    every required child column into each generated UnsafeRow, so the
    full document body rides along once per chunk (a ~2 MB doc's 26k
    sliding windows copy ~52 GB), and the UTF-8-aware substring walks
    bytes to the char offset on every call. Measured 349 s for that
    ONE document — invisible to count()-style tests, where Catalyst
    prunes the text column and the copy with it. Instead the chunk
    ARRAY is built below the generator — one ``regexp_extract_all``
    pass splits the text into stride-sized pieces (a single
    left-to-right scan), each window is the size-prefix of the
    ⌈size/stride⌉ consecutive pieces it spans (pieces are exactly
    text[i·stride:(i+1)·stride], so the prefix IS
    substr(text, i·stride+1, size) byte-for-byte), and ``posexplode``
    emits the finished chunks, each output row carrying only its own
    ~size chars. The shifted piece arrays are zipped OUTSIDE the
    lambda (arrays_zip inputs are row-level expressions, evaluated
    once per document) — a transform whose lambda re-referenced the
    pieces expression would be re-inlined per element by
    CollapseProject, the same trap the minhash fold documents. The
    DuckDB oracles mirror the piece form — DuckDB's substring has the
    same O(offset) walk.
    """
    stride = size if stride is None else stride
    if stride > size:
        raise ValueError(
            f"stride ({stride}) > size ({size}) silently drops the "
            f"{stride - size} characters between windows; use "
            "stride <= size (== for contiguous, < for overlap)"
        )
    if stride < 1 or size < 1:
        raise ValueError("size and stride must be >= 1")
    # (?s): stride pieces must cross newlines (Java/RE2 '.' excludes
    # them by default). Empty text -> empty array -> zero chunks;
    # NULL text -> NULL -> zero chunks. Both match the old
    # ceil(length/stride) row counts with no special-case guard.
    pieces = F.regexp_extract_all(F.col("text"), F.lit(f"(?s).{{1,{stride}}}"), F.lit(0))
    npieces = -(-size // stride)  # ceil(size/stride): pieces per window
    if npieces == 1:
        # contiguous chunking: the pieces ARE the chunks
        base = df.select(F.col("doc_id"), pieces.alias("_chunks"))
    else:
        with_p = df.select(F.col("doc_id"), pieces.alias("_p0"))
        shifted = [
            F.slice(F.col("_p0"), k + 1, F.greatest(F.size("_p0") - k, F.lit(0))).alias(f"_p{k}")
            for k in range(1, npieces)
        ]
        zipped = with_p.select(
            F.col("doc_id"),
            F.arrays_zip(F.col("_p0"), *shifted).alias("_z"),
        )
        chunk_arr = F.transform(
            F.col("_z"),
            lambda s: F.substring(
                F.concat_ws(
                    "", *[F.coalesce(s[f"_p{k}"], F.lit("")) for k in range(npieces)]
                ),
                1,
                size,
            ),
        )
        base = zipped.select(F.col("doc_id"), chunk_arr.alias("_chunks"))
    out = base.select(F.col("doc_id"), F.posexplode("_chunks").alias("chunk_id", "chunk_text"))
    return out.select(
        F.col("doc_id"),
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.col("chunk_text"),
        F.length("chunk_text").cast("bigint").alias("chunk_len"),
    )


def pack_sequences(
    df: DataFrame,
    stream_col: str,
    order_col: str,
    token_col: str,
    budget: int,
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences by
    cumulative offset: within each stream (ordered by ``order_col``) a
    document starting at cumulative token offset ``o`` joins sequence
    ``floor(o / budget)`` — greedy contiguous packing, the standard
    streaming formulation (documents longer than ``budget`` still get
    an assignment; downstream truncation policy is orthogonal).

    One window scan per stream. Streams pack independently and in
    parallel — for an unbounded corpus pass a hash bucket
    (``pmod(hash(id), B)``) as the stream so no single window
    partition grows with total corpus size.
    """
    w = (
        Window.partitionBy(stream_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    offset = F.sum(token_col).over(w) - F.col(token_col)
    return df.withColumn("seq_id", F.floor(offset / F.lit(budget)).cast("bigint"))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    fact_row_id: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-proof inner equi-join: fact rows are salted by row identity
    (``pmod(hash(row_id), n_salts)``), the dim side is replicated
    ``n_salts`` ways, and the join runs on (key, salt) — a hot key's
    rows spread across ``n_salts`` reducers instead of one straggler.
    Equivalent to the plain join by construction (every fact row meets
    exactly one replica of its dim row).

    This is the *static* mitigation for when AQE's skew-join split
    can't help (e.g. the skewed side feeds an aggregation that must
    co-partition). Cost: dim shuffle volume ×``n_salts`` — keep
    ``n_salts`` small and the dim narrow.
    """
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.hash(F.col(fact_row_id)), F.lit(n_salts))
    )
    replicated_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    cond = (salted_fact[fact_key] == replicated_dim[dim_key]) & (
        salted_fact["_salt"] == replicated_dim["_salt"]
    )
    return salted_fact.join(replicated_dim, cond, "inner").drop("_salt")


def sample_temperature(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    seed: str,
    tau: float = 0.7,
    budget_frac: float = 0.5,
) -> DataFrame:
    """Temperature-based mixture resampling: keep stratum ``s`` with
    probability ∝ ``n_s^(tau-1)`` so the retained corpus approaches
    the ``n_s^tau``-proportional mixture (τ<1 flattens dominant
    sources, the standard LLM data-mixture reweighting), scaled to a
    total keep budget of ``budget_frac`` of the corpus and capped at 1
    (a filter cannot upsample).

    Fully deterministic: per-stratum keep fractions are computed from
    the stratum counts IN-PLAN (one tiny aggregate joined back —
    AQE broadcasts it), converted to an 8-hex-char threshold with
    ``format_string('%08x', …)``, and compared against
    ``md5(seed:id)`` — the same fixed-point arithmetic any ANSI engine
    reproduces bit-identically, so even this data-dependent sample is
    value-hash-checkable. Scale: one count shuffle + a map-side join
    + a filter; no RNG state, stable under retries.

    NULL-stratum policy (r9 orphan-FK axis): rows whose stratum is
    NULL are a real stratum — ``groupBy`` counts them, and the
    join-back is NULL-safe (``<=>``, still a broadcast hash join) so
    they are kept/downsampled by the same temperature formula as any
    named source. The previous plain equi-join silently deleted every
    NULL-stratum row from the mix regardless of budget — at corpus
    scale that is unbounded silent data loss, not sampling.
    """
    for scratch in ("_thr", "_stratum_thr_key"):
        if scratch in df.columns:
            raise ValueError(
                f"sample_temperature uses {scratch!r} as a scratch column; "
                "rename the input column first"
            )
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).cast("double").alias("_n_s"))
    tot = counts.agg(
        F.sum("_n_s").alias("_n_total"),
        F.sum(F.pow("_n_s", F.lit(tau))).alias("_z"),
    )
    keep = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            stratum_col,
            F.least(
                F.lit(1.0),
                F.pow("_n_s", F.lit(tau))
                / F.col("_z")
                * F.lit(budget_frac)
                * F.col("_n_total")
                / F.col("_n_s"),
            ).alias("_kf"),
        )
        .select(
            stratum_col,
            F.when(F.col("_kf") >= 1.0, F.lit("g"))
            .otherwise(
                F.format_string(
                    "%08x", F.floor(F.col("_kf") * F.lit(float(_HASH_SPACE))).cast("bigint")
                )
            )
            .alias("_thr"),
        )
    )
    keep = keep.withColumnRenamed(stratum_col, "_stratum_thr_key")
    # F.broadcast: the keep side is one row per stratum (always tiny),
    # but a NULL-SAFE equality join is exactly the shape AQE can
    # degrade to a sort-merge join when autoBroadcastJoinThreshold is
    # off — the explicit hint makes the documented BHJ the plan's
    # property rather than a runtime guess
    out = (
        df.join(F.broadcast(keep), F.col(stratum_col).eqNullSafe(F.col("_stratum_thr_key")))
        .filter(hash_bucket_hex(F.col(id_col), seed) < F.col("_thr"))
    )
    return out.drop("_stratum_thr_key", "_thr")


#: Ordered (pattern, replacement) pairs for PII scrubbing. Patterns
#: stay inside the ASCII-safe common subset of Java regex and RE2 so a
#: SQL oracle (DuckDB/Trino) applies the identical semantics.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]+", "<EMAIL>"),
    (r"[0-9]{3}-[0-9]{4}", "<PHONE>"),
)


def scrub_pii(df: DataFrame) -> DataFrame:
    """Redact PII-shaped spans of ``text`` and count what was redacted.

    Adds ``clean_text`` (text with every :data:`PII_PATTERNS` pattern
    replaced by its tag, in declaration order — earlier patterns win
    overlapping spans) and one ``n_<TAG>`` BIGINT column per pattern
    with the match count *before* redaction. Pure ``regexp_replace`` /
    ``regexp_extract_all`` column expressions: no shuffle, no UDF,
    linear per row — the C4-style scrub pass that runs over every byte
    of a 100 TB corpus, so it must stay inside whole-stage codegen.
    """
    cleaned = F.col("text")
    counts = []
    for pat, tag in PII_PATTERNS:
        name = "n_" + tag.strip("<>").lower()
        counts.append(
            F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))
            .cast("bigint")
            .alias(name)
        )
        cleaned = F.regexp_replace(cleaned, pat, tag)
    return df.select("*", cleaned.alias("clean_text"), *counts)


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global prefix sum WITHOUT the single-partition window,
    as column ``cum``.

    ``sum(v) OVER (ORDER BY ...)`` with no PARTITION BY pulls the
    whole dataset into one task — the classic global-ordering scale
    killer. The scalable equivalent is two-phase: range-partition and
    sort on the order key (parallel), collect the P per-partition
    totals (driver-side metadata, P numbers, like AQE statistics),
    then each row's global prefix = its partition's cumulative offset
    + a within-partition running sum (parallel window). The inclusive
    prefix sum this returns is what shard planning / token-budget
    splitting needs.

    ``order_cols`` must be a total order (include a tiebreaker) or
    prefix sums are nondeterministic across runs. The sum keeps the
    value column's own sum type (bigint stays bigint, double stays
    double — no silent integer truncation); integral prefixes are
    exact, floating ones carry the usual summation-order rounding of
    any two-phase sum.
    """
    return _prefix_sum(df, order_cols, F.col(value_col), "cum", num_partitions)[0]


def global_row_number(df: DataFrame, order_cols: list[str]) -> tuple[DataFrame, int]:
    """Exact global row numbers WITHOUT the single-partition window, as
    column ``rank``: the global running sum of a constant 1
    (:func:`global_running_sum`).

    ``order_cols`` must be a total order (include a tiebreaker) or
    numbering is nondeterministic across runs.

    Returns ``(ranked, total_rows)``: the total is the sum of the
    per-partition counts the offset pass ALREADY collected (r15,
    guide §1.2), so a caller that needs n (e.g. an exact ntile)
    schedules no extra count() pass over the ranked table.
    """
    return _prefix_sum(df, order_cols, F.lit(1), "rank", None)


def _prefix_sum(
    df: DataFrame,
    order_cols: list[str],
    value: Column,
    out_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, object]:
    """(``df`` with ``out_col`` = the inclusive global running sum of
    ``value`` in ``order_cols`` order, the grand total of ``value``)."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *order_cols).sortWithinPartitions(*order_cols)
    # pin ONE physical partitioning: the totals job and the prefix job
    # otherwise re-plan the range exchange independently, and AQE may
    # coalesce them differently — offsets would then disagree with the
    # partition ids they are applied to
    ranged = ranged.withColumn("_pid", F.spark_partition_id()).localCheckpoint(eager=True)
    totals_df = ranged.groupBy("_pid").agg(F.sum(value).alias("_offset"))
    totals = {r["_pid"]: r["_offset"] for r in totals_df.collect()}
    # accumulate in the totals' own Python type (int stays exact
    # arbitrary-precision; float stays float; Decimal stays Decimal).
    # When every total is NULL the fallback zero must still match the
    # column's Spark type or createDataFrame rejects it.
    import decimal

    from pyspark.sql.types import DecimalType, FractionalType

    offset_type = totals_df.schema["_offset"].dataType
    if isinstance(offset_type, DecimalType):
        type_zero: object = decimal.Decimal(0)
    elif isinstance(offset_type, FractionalType):
        type_zero = 0.0
    else:
        type_zero = 0
    py_type = type(next((v for v in totals.values() if v is not None), type_zero))
    # a partition whose own prefix is all-NULL must still inherit the
    # numeric offset of earlier partitions (SQL running-sum semantics:
    # the result is NULL only while NO preceding non-NULL exists
    # GLOBALLY) — so each offset row also carries whether any earlier
    # partition contributed a non-NULL value, and the offset is NULL
    # until one has
    offsets = []
    acc, seen = py_type(0), False
    for pid in sorted(totals):
        offsets.append((pid, acc if seen else None))
        if totals[pid] is not None:
            acc += totals[pid]
            seen = True
    # offsets ride a P-row broadcast-joined DataFrame, not a P-deep
    # when()-chain — at thousands of partitions a chained CASE WHEN is
    # a pathological expression tree (codegen fallback, quadratic-ish
    # analysis). The offset column reuses the sum's own Spark type
    # (bigint stays bigint, double stays double, decimal stays
    # decimal) — no silent cast that would floor fractional values.
    off_df = F.broadcast(
        df.sparkSession.createDataFrame(offsets, schema=totals_df.schema)
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the within-partition running sum gets its own column, read twice
    # below: written inline twice, the Window node would evaluate two
    # identical sums
    local = F.col("_local")
    zero = F.lit(type_zero).cast(offset_type)
    out = (
        ranged.join(off_df, "_pid")
        .withColumn("_local", F.sum(value).over(w))
        .withColumn(
            out_col,
            F.when(
                local.isNull() & F.col("_offset").isNull(), F.lit(None).cast(offset_type)
            ).otherwise(F.coalesce(local, zero) + F.coalesce(F.col("_offset"), zero)),
        )
        .drop("_pid", "_offset", "_local")
    )
    return out, acc
