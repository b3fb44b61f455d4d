"""Embedding similarity search over array<float> columns.

Every operator reads the bank's embedding columns: ``vec_id`` and
``embedding``, plus the IVF cell ``label``.

Two strategies:

- **brute_force_knn** — exact: broadcast the (small) query set against
  a full partitioned scan of the candidates. Per-row work is a pure
  JVM fold (zip_with + aggregate) in DOUBLE; no Python in the loop.
  Right answer for query sets up to ~10^4 against arbitrarily large
  candidate tables (the scan is embarrassingly parallel; the only
  shuffle is the final per-query top-k, which is tiny).
- **lsh_knn** — approximate, for large query sets: random-hyperplane
  signs bucket both sides; candidates are compared only within
  matching buckets (equi-join), then exact-scored and top-k'd. This
  is the 100 TB-to-100 TB join path.

**Corrupt-vector policy** (r9 NaN axis + r10 ±Inf and finite-overflow
axes, engine-wide): a vector containing any NaN component, any ±Inf
component, or any finite component with |x| > sqrt(DBL_MAX) — whose
square alone overflows the norm fold to +Inf, so it reproduces the
Inf pathology while passing every isnan/isinf test in both engines —
is CORRUPT DATA.
NaN: its cosine with everything is NaN, and because BOTH Spark and
SQL engines order NaN above every real number, an unguarded corrupt
vector does not merely produce a bad row: it outranks every genuine
neighbor in every ``ORDER BY cosine DESC`` top-k and passes every
``cosine >= threshold`` filter — one poisoned shard silently
pollutes every query's results (consistent across engines, so an
oracle diff alone never catches it). ±Inf is the same class one
step removed: an Inf component makes the squared-norm fold +Inf
(Inf² = Inf regardless of sign) and the dot product ±Inf, so the
cosine is Inf/Inf = **NaN downstream of any NaN-only entry guard**
— ``isnan`` on components passes an Inf vector, and the NaN then
appears first at scoring time with the identical outrank/threshold
pathology. The finite-overflow class (r10) is the same trick one
MORE step removed: |x| > sqrt(DBL_MAX) ≈ 1.34e154 passes isnan AND
isinf everywhere, yet x² alone is +Inf — before this round the
component-form guards kept such vectors (a live cross-engine
divergence on ``knn_bruteforce_cosine`` and a ±1e199-scale poisoned
centroid, demonstrated then injected into the edges profile). Every
scorer therefore drops corrupt vectors at ENTRY using one of two
detectors: the component test ``isnan(x) OR abs(x) > sqrt(DBL_MAX)``
(:func:`_is_corrupt_component`), or the norm test ``isnan(norm) OR
norm = Inf`` (:func:`_norm_is_clean`; NaN propagates through the
fold, Inf and finite-overflow components force norm = +Inf). The
norm form is strictly wider on one residual class — ACCUMULATION
overflow, every |x| ≤ sqrt(DBL_MAX) but the squared sum overflows —
so every ranking additionally applies the score-level backstop
:func:`_score_is_sane` (a non-finite score never ranks, in either
engine).
``brute_force_knn``, ``lsh_knn``, ``ivf_knn`` exclude corrupt
vectors from both sides; ``ivf_centroids`` excludes them from the
mean (one corrupt vector would poison the whole cell centroid and
with it the probe routing); ``lsh_near_dup_pairs`` keeps them
singleton at the collapse fingerprint and its rescoring filter
rejects their NaN pair scores; ``quantize_embeddings`` emits the
NULL-marked row (NULL scale/qvec) a NULL input vector gets —
flagging corruption without silently dropping the id from a storage
pass. The NULL-vector policy is the same exclusion (SQL NULL
semantics make most of it automatic); zero vectors keep their
NULL-cosine ``nullif`` guards; NULL *elements* inside a vector are
NOT corruption (SQL engines skip them in avg; folds turn them into
NULL norms which the norm-form guards exclude as NULL vectors).

**Sane-first ranking.** The top-k scorers do not filter corrupt
norms or insane scores before they rank: :func:`_top_k` orders each
partition by a non-NULL ``_ok`` flag first (both norms clean, score
sane), then by score, then by the tie column, and keeps ``_ok AND
rn <= k`` above the Window. Every sane row ranks ahead of every
insane one, so the kept rows are exactly those a filter-then-rank
would keep. The dim-length cosine fold is evaluated once per pair:
Catalyst pushes no filter on a non-partition column through a Window,
and CollapseProject does not inline a fold into a Project that
references it twice (the score and the ``_ok`` flag). A filter below
the ranking would be pushed into the join condition instead, with
the fold inlined into each conjunct that reads the score.

The ladder's SHAPE class (r12): a vector whose **length** differs
from the model dimension — the truncated-write / mixed-model-version
ingest corruption. Every value guard passes it (clean finite norm),
yet cross-vector math on it is engine-divergent three ways: Spark's
``zip_with`` dot NULL-pads (NULL score), DuckDB's
``list_dot_product`` errors the whole query, and the lsh_banded
kernel raises on the whole query. Contract: wrong-length vectors are
entry-excluded wherever a dimension is declared (:func:`_dim_ok` /
:func:`drop_ragged_vectors`; ``lsh_banded``/``lsh_knn``/
``lsh_near_dup_pairs`` always — they already require ``dim`` — and
``brute_force_knn``/``ivf_knn``/``ivf_centroids`` via the optional
``dim`` parameter, which every registered query passes). Per-row
store passes (:func:`quantize_embeddings`) are deliberately
row-faithful instead: no cross-row math, so a ragged row quantizes
against its own length identically in both engines and the store
never silently drops an id. Oracle mirror:
``coalesce(len(v) = dim, TRUE)``.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


_INF = float("inf")


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


#: sqrt(DBL_MAX) ≈ 1.3408e154: a component with |x| above this has
#: x² = +Inf on its own, so the vector's squared-norm fold overflows
#: no matter what the other components are. The literal appears
#: verbatim in every oracle's SQL guard — keep them identical.
_OVERFLOW = 1.3407807929942596e154


def _is_corrupt_component(x: Column) -> Column:
    """Component form of the module corrupt-vector detector: NaN, ±Inf
    or finite-overflow — |x| > sqrt(DBL_MAX), the r10 axis: such a
    component is FINITE (passes every isnan/isinf test in both
    engines) but its square alone overflows the norm fold to +Inf, so
    an unguarded scorer inherits the Inf-norm pathology through a
    back door (cosine NaN as a query, fake-0 scores as a candidate,
    a ±1e199-scale poisoned centroid in a mean). A NULL element is
    NOT corruption — the predicate is NULL for it and callers wrap
    the exists() in coalesce(…, True)."""
    xd = x.cast("double")
    return F.isnan(xd) | (F.abs(xd) > F.lit(_OVERFLOW))


def _norm_is_clean(norm: Column) -> Column:
    """Norm form of the detector: a corrupt component makes the
    squared-norm fold NaN (NaN propagates) or +Inf (Inf² = Inf; a
    finite-overflow component squares to Inf alone), so one
    finite-norm test covers all three IEEE corruption classes. NULL
    norm (NULL vector or NULL element) yields NULL — callers
    filtering on this drop those rows, which is the module
    NULL-vector policy. The norm form is strictly WIDER than the
    component form on one residual class: a vector whose components
    are each ≤ sqrt(DBL_MAX) but whose squared SUM overflows
    (accumulation overflow). Scorers guarding with the component
    form rely on the score-level NaN backstop for that class."""
    return ~F.isnan(norm) & (norm != F.lit(_INF))


def _score_is_sane(score: Column) -> Column:
    """Ranking-time backstop (r10): a score is sane if it is NULL
    (zero-norm pairs — both engines rank NULLS LAST) or finite.
    Entry guards should make this a no-op; it exists so that ANY
    residual non-finite score — e.g. the accumulation-overflow class
    the component-form guard cannot see — can never outrank genuine
    neighbors or leak a NaN row, in either engine. :func:`_top_k`
    ranks sane rows ahead of insane ones and keeps only the sane."""
    return F.coalesce(~F.isnan(score) & (F.abs(score) != F.lit(_INF)), F.lit(True))


def _vectors(df: DataFrame, out_id: str, out_vec: str, out_norm: str, *keep: Column) -> DataFrame:
    """One row per non-NULL vector: ``out_id``, the components cast to
    DOUBLE as ``out_vec``, any ``keep`` columns, and the L2 norm as
    ``out_norm``, folded once per vector so no pair folds it again.
    The ``IS NOT NULL`` filter is the NULL-vector policy and reaches
    the scan as a pushed filter. Corrupt norms are not filtered here:
    :func:`_top_k` ranks a pair only when both norms are clean."""
    return (
        df.filter(F.col("embedding").isNotNull())
        .select(F.col("vec_id").alias(out_id), _as_double(F.col("embedding")).alias(out_vec), *keep)
        .withColumn(out_norm, F.sqrt(_dot(F.col(out_vec), F.col(out_vec))))
    )


def _cosine(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of vector columns ``a``/``b`` from their precomputed
    norms; NULL for a zero-norm side."""
    return _dot(F.col(a), F.col(b)) / F.nullif(F.col(na) * F.col(nb), F.lit(0.0))


def _top_k(
    scored: DataFrame, part: str, score: str, tie: str, k: int, norms: tuple[str, ...]
) -> DataFrame:
    """The ``k`` best sane rows per ``part``: score descending, then
    ``tie`` ascending. A row is sane when every column in ``norms``
    passes :func:`_norm_is_clean` and ``score`` passes
    :func:`_score_is_sane`; the non-NULL ``_ok`` flag orders sane rows
    first, and the cut ``_ok AND rn <= k`` sits above the Window,
    where Catalyst leaves it (module docstring, sane-first ranking).
    ``_ok`` references ``score``, so the fold behind it stays in its
    own Project and is evaluated once per row."""
    ok = _score_is_sane(F.col(score))
    for n in norms:
        ok = _norm_is_clean(F.col(n)) & ok
    w = Window.partitionBy(part).orderBy(F.desc("_ok"), F.desc(score), F.asc(tie))
    return (
        scored.withColumn("_ok", F.coalesce(ok, F.lit(False)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("_ok") & (F.col("rn") <= k))
        .drop("_ok", "rn")
    )


def _rank_neighbors(joined: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k of joined (query_id, qv, qn) x (neighbor_id,
    cv, cn) pairs: (query_id, neighbor_id, cosine 4dp)."""
    scored = joined.select(
        "query_id", "neighbor_id", "qn", "cn", _cosine("qv", "cv", "qn", "cn").alias("cos_raw")
    )
    return _top_k(scored, "query_id", "cos_raw", "neighbor_id", k, ("qn", "cn")).select(
        "query_id", "neighbor_id", (F.round("cos_raw", 4) + F.lit(0.0)).alias("cosine")
    )


def _dim_ok(vec: Column, dim: int | None) -> Column:
    """Ragged-dimension entry guard (r12 axis): a vector whose LENGTH
    differs from the declared model dimension is one more
    corrupt-ingest class — the truncated-write / mixed-model-version
    shape — excluded at entry exactly like the IEEE value classes.
    The value guards cannot see it: a truncated vector has a clean
    finite norm, yet every cross-vector operation on it is undefined
    — Spark's ``zip_with`` dot pads the short side with NULLs (NULL
    score), DuckDB's ``list_dot_product`` ERRORS the whole query, and
    the LSH kernel raises ``ValueError`` — three different behaviors
    for one row.
    NULL vectors pass (TRUE) — the NULL-vector policy owns them
    downstream; ``dim=None`` disables the guard (per-row operators
    like :func:`quantize_embeddings` are row-faithful by contract and
    never declare a dim)."""
    if dim is None:
        return F.lit(True)
    return F.when(vec.isNull(), F.lit(True)).otherwise(F.size(vec) == F.lit(dim))


def drop_ragged_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Entry guard: drop rows whose vector length differs from
    ``dim`` (see :func:`_dim_ok`); NULL vectors are kept for the
    downstream NULL policy. Oracle mirror:
    ``coalesce(len(v) = dim, TRUE)``."""
    return df.filter(_dim_ok(F.col(vec_col), dim))


def drop_corrupt_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Entry guard: drop rows whose vector has any NaN/±Inf component.
    coalesce(True) keeps NULL vectors and vectors with NULL elements
    (exists() is NULL for those) — downstream NULL semantics handle
    them; only IEEE-special corruption is excluded here."""
    return df.filter(
        F.coalesce(
            ~F.exists(vec_col, _is_corrupt_component),
            F.lit(True),
        )
    )


def brute_force_knn(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine 4dp), a query
    never its own neighbor.

    Norms are precomputed per side before the join; the fold order for
    the dot product is the array order, so results are bit-stable
    across partitionings. Corrupt (NaN/±Inf-poisoned) vectors are
    dropped from both sides at entry (module corrupt-vector policy,
    norm form): Spark sorts NaN above every real number, so one
    corrupt candidate would otherwise outrank every genuine neighbor
    in every query's top-k — an Inf component reaches that same NaN
    at the cosine division (Inf/Inf) if only components are checked.
    ``dim`` (r12 ragged axis) additionally excludes wrong-length
    vectors from both sides: without it a ragged QUERY emits k
    NULL-cosine rows (its every dot is NULL via zip_with padding)
    while DuckDB's ``list_dot_product`` errors the whole query —
    declare the model dimension wherever the source can be ragged.
    """
    if dim is not None:
        queries = drop_ragged_vectors(queries, "embedding", dim)
        candidates = drop_ragged_vectors(candidates, "embedding", dim)
    q = _vectors(queries, "query_id", "qv", "qn")
    c = _vectors(candidates, "neighbor_id", "cv", "cn")
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("neighbor_id") != F.col("query_id"))
    return _rank_neighbors(joined, k)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def ivf_centroids(candidates: DataFrame, dim: int | None = None) -> DataFrame:
    """Coarse-quantizer centroids per cell: (cell, centroid array).

    Position-wise mean via posexplode + two grouped aggregations — one
    shuffle keyed (cell, dim), one tiny shuffle keyed cell. The cell
    assignment is the ``label`` value (a prior clustering — labels
    here; a k-means pass would produce the same shape). Corrupt
    (NaN/±Inf-poisoned) vectors are excluded from the mean (module
    corrupt-vector policy): one corrupt vector would otherwise turn
    its whole cell's centroid NaN/Inf and with it the probe routing
    of every query. The entry guard keeps rows with NULL elements —
    coalesce(True) in :func:`drop_corrupt_vectors`, because a bare
    NULL exists() predicate would silently drop them from the mean,
    while the oracle's avg skips only the NULL elements. ``dim``
    (r12 ragged axis) excludes wrong-length vectors: the positional
    mean would otherwise average a truncated vector into its leading
    dims only — per-position counts silently diverge and an extended
    vector widens the centroid past the model dimension.
    """
    if dim is not None:
        candidates = drop_ragged_vectors(candidates, "embedding", dim)
    per_dim = (
        drop_corrupt_vectors(candidates, "embedding")
        .select(F.col("label").alias("cell"), F.posexplode("embedding").alias("dim", "x"))
        .groupBy("cell", "dim")
        .agg(F.avg(F.col("x").cast("double")).alias("v"))
    )
    return per_dim.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "v"))), lambda s: s["v"]
        ).alias("centroid")
    )


def ivf_knn(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """IVF-style approximate cosine top-k.

    Inverted-file search: (1) build per-cell centroids (the coarse
    index); (2) each query probes its ``nprobe`` nearest centroids;
    (3) exact scoring only against candidates in the probed cells —
    an equi-join on cell, never a full scan. With C cells and uniform
    occupancy the scored fraction is nprobe/C; at 100 TB the
    candidate side stays partitioned by cell (cluster-by on write)
    so each probe touches only its cells' files.
    """
    # Corrupt vectors are excluded from both sides at entry by the
    # NORM form of the module detector (r11 — the component form let
    # an accumulation-overflow candidate through: norm = +Inf with
    # every component finite and <= sqrt(DBL_MAX), scoring a fake
    # finite/Inf = 0.0 against clean queries that _score_is_sane
    # cannot reject yet can outrank genuinely negative neighbors).
    # The norms are needed for the cosines anyway, so they are folded
    # once per VECTOR and the guard rides the sane-first ranking of
    # both the probe and the final top-k. ivf_centroids applies its
    # own component-form guard with NULL-element tolerance internally
    # (avg semantics differ there).
    # ``dim`` (r12 ragged axis) excludes wrong-length vectors from the
    # centroids, both scoring sides, and the probe routing.
    if dim is not None:
        queries = drop_ragged_vectors(queries, "embedding", dim)
        candidates = drop_ragged_vectors(candidates, "embedding", dim)
    cents = ivf_centroids(candidates, dim=dim)
    q = _vectors(queries, "query_id", "qv", "qn")
    # probe: rank centroids per query by cosine, keep top nprobe
    cents = cents.withColumn("cent_n", F.sqrt(_dot(F.col("centroid"), F.col("centroid"))))
    qc = q.crossJoin(F.broadcast(cents)).select(
        "query_id", "qv", "qn", "cell", _cosine("qv", "centroid", "qn", "cent_n").alias("cent_cos")
    )
    probes = _top_k(qc, "query_id", "cent_cos", "cell", nprobe, ("qn",)).select(
        "query_id", "qv", "qn", "cell"
    )
    c = _vectors(candidates, "neighbor_id", "cv", "cn", F.col("label").alias("cell"))
    joined = c.join(F.broadcast(probes), "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _rank_neighbors(joined, k)


def lsh_banded(
    df: DataFrame,
    dim: int,
    out_id: str,
    out_vec: str,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Multi-table random-hyperplane banding: (id, vec, table_id, bucket).

    One scan: all tables' buckets as an array, posexploded to
    (table_id, bucket) rows.

    The projection matrix runs as one numpy matmul per Arrow batch —
    ``(batch, dim) @ (dim, n_tables*n_planes)`` — behind
    ``mapInPandas``; the explode to (table_id, bucket) rows stays
    JVM-side. A bucket bit is set when the projection is >= 0, the
    textbook definition the property suite pins against a sequential
    Python fold; matmul may reorder the additions, so a projection
    within ~1 ulp of 0 could flip its bit, which is why the pair sets
    downstream are recall-pinned, not bit-pinned (the suite has never
    produced a divergence). A NULL vector gets all-zero buckets; NaN
    elements set every bit (Spark orders NaN above all numbers, the
    kernel mirrors it with ``~(proj < 0)``). A NULL *element* inside
    a vector reaches the kernel as NaN, indistinguishable from a
    genuine NaN, so it too sets every bit; validate upstream if the
    source can produce one. Ragged vectors (length != ``dim``) are an
    entry-EXCLUDED class (r12 axis: :func:`_dim_ok` filter on
    ``base``), so the kernel's ``ValueError`` on a wrong-length vector
    is an unreachable-by-contract assertion.
    """
    base = df.filter(_dim_ok(F.col("embedding"), dim)).select(
        F.col("vec_id").alias(out_id), _as_double(F.col("embedding")).alias(out_vec)
    )
    all_planes_np = [
        p for t in range(n_tables) for p in _hyperplanes(dim, n_planes, seed + t)
    ]
    out_schema = T.StructType(
        [
            T.StructField(out_id, base.schema[out_id].dataType),
            T.StructField(out_vec, T.ArrayType(T.DoubleType())),
            T.StructField("buckets", T.ArrayType(T.LongType())),
        ]
    )

    def project(batches):
        import numpy as np
        import pandas as pd

        planes = np.array(all_planes_np, dtype=np.float64).T  # (dim, n_all)
        weights = np.array(
            [1 << (i % n_planes) for i in range(n_tables * n_planes)],
            dtype=np.int64,
        )
        for pdf in batches:
            mats, idx = [], []
            for j, v in enumerate(pdf[out_vec]):
                if v is not None:
                    a = np.asarray(v, dtype=np.float64)
                    if a.shape != (dim,):
                        raise ValueError(
                            f"lsh_banded: vector for {out_id}="
                            f"{pdf[out_id].iloc[j]!r} has length "
                            f"{a.shape[0] if a.ndim == 1 else a.shape} "
                            f"but dim={dim}"
                        )
                    mats.append(a)
                    idx.append(j)
            buckets = [np.zeros(n_tables, dtype=np.int64)] * len(pdf)
            if mats:
                proj = np.stack(mats) @ planes  # (rows, n_all)
                bits = (~(proj < 0.0)).astype(np.int64) * weights[None, :]
                per_table = bits.reshape(len(mats), n_tables, n_planes).sum(axis=2)
                for row, j in enumerate(idx):
                    buckets[j] = per_table[row]
            yield pd.DataFrame(
                {
                    out_id: pdf[out_id],
                    out_vec: pdf[out_vec],
                    "buckets": buckets,
                }
            )

    banded = base.mapInPandas(project, out_schema)
    return banded.select(
        out_id, out_vec, F.posexplode("buckets").alias("table_id", "bucket")
    )


def label_representatives(df: DataFrame, id_col: str, fp_col: str) -> DataFrame:
    """``df`` with every row labelled by its ``fp_col`` group's
    representative: ``_rep_id`` is the group's smallest non-NULL
    ``id_col``, and ``_rn`` is 1 on exactly one row of each group, a
    row that carries that id. The exact-duplicate collapse of every
    filter-and-verify pipeline: keep the ``_rn = 1`` rows, and where
    members must stay connected emit ``(_rep_id, id)`` star edges from
    the rows with ``id != _rep_id``.

    - **Why collapse.** Bucketing cannot damp a cluster of exact
      duplicates: k copies share every bucket and pair k(k-1)/2 times.
      Collapsing first makes candidate volume independent of the
      cluster size. Components are unchanged: a copy is exactly as
      similar to every document as its representative is, so every
      edge a member would add exists through the representative, and
      its star edge reconnects it.
    - **NULL-safe minimum.** Spark's default ascending order puts
      NULLs first and ``first`` keeps them, so a group holding a NULL
      id would elect NULL. The window orders NULLs last and ``first``
      skips them, matching an oracle's ``min(id)`` or ``ORDER BY id``
      under DuckDB's NULLS LAST default. A NULL-id member gets no star
      edge: ``NULL != rep`` is NULL in both engines.
    - **One row per group.** Replayed-CDC duplicate rows (same id, same
      content) must not all pass as representatives: each would fan
      out every join on the id downstream. ``_rn`` picks exactly one,
      as the oracles' ``GROUP BY fingerprint`` or ``rn = 1`` do.
    """
    w = Window.partitionBy(fp_col).orderBy(F.col(id_col).asc_nulls_last())
    return df.withColumn("_rep_id", F.first(id_col, ignorenulls=True).over(w)).withColumn(
        "_rn", F.row_number().over(w)
    )


def candidate_pairs(keys: DataFrame, probe: DataFrame | None) -> DataFrame:
    """The filter of filter-and-verify: the distinct id pairs that
    share a bucket key. ``keys`` rows are ``(id, key...)``, the id
    first. With ``probe`` None it is a self-join, and a pair is
    ``(doc_a, doc_b)`` with ``doc_a < doc_b``. Otherwise ``probe``
    rows (its own id first, then the same key columns) are broadcast
    against ``keys``, and a pair is ``(probe id, keys id)`` under the
    two frames' id names, with the ids unequal.

    Only ids and keys shuffle: the payload a caller scores (a
    signature, a vector) re-attaches by id to the deduplicated pairs,
    so a row is not carried once per bucket it shares."""
    id_col, *key_cols = keys.columns
    if probe is None:
        ids = ["doc_a", "doc_b"]
        a = keys.select(F.col(id_col).alias("doc_a"), *key_cols)
        b = keys.select(F.col(id_col).alias("doc_b"), *key_cols)
        pairs = a.join(b, key_cols).filter(F.col("doc_a") < F.col("doc_b"))
    else:
        ids = [probe.columns[0], id_col]
        pairs = keys.join(F.broadcast(probe), key_cols).filter(F.col(id_col) != F.col(ids[0]))
    return pairs.select(*ids).dropDuplicates(ids)


#: :func:`lsh_knn` banding: hyperplanes per table and tables.
_KNN_PLANES = 4
_KNN_TABLES = 8


def lsh_knn(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via shared LSH buckets (equi-joins).

    Multi-table LSH: :data:`_KNN_TABLES` independent bucketings of
    :data:`_KNN_PLANES` hyperplanes each (different hyperplane seeds);
    a pair is a candidate if it collides in ANY table. Collision
    probability for angle θ is 1 - (1 - (1 - θ/π)^planes)^tables —
    tables buy recall, planes buy precision. Each table is one
    equi-join on (table_id, bucket); candidates dedup before exact
    scoring so every pair is scored once.
    """
    # Corrupt (NaN/±Inf) vectors are dropped from both sides BEFORE
    # banding (module corrupt-vector policy): the banding kernel maps
    # a NaN projection to an all-ones bucket, which would funnel every
    # corrupt vector into one hot bucket and then rank it above every
    # real neighbor (NaN cos_raw sorts first under desc); an Inf
    # vector's projections are ±Inf — deterministic buckets, but its
    # pair scores are Inf/Inf = NaN with the same outranking.
    # Ragged (length != dim) vectors are excluded up front too (r12
    # axis) — lsh_banded's own entry guard would keep them out of the
    # bucket joins anyway, but dropping them here keeps the rescore
    # frames (qv/cv) consistent with the banded universe by
    # construction, not merely by join reachability.
    queries = drop_ragged_vectors(drop_corrupt_vectors(queries, "embedding"), "embedding", dim)
    candidates = drop_ragged_vectors(
        drop_corrupt_vectors(candidates, "embedding"), "embedding", dim
    )
    qb = lsh_banded(queries, dim, "query_id", "qv", _KNN_PLANES, _KNN_TABLES, seed).select(
        "query_id", "table_id", "bucket"
    )
    cb = lsh_banded(candidates, dim, "neighbor_id", "cv", _KNN_PLANES, _KNN_TABLES, seed).select(
        "neighbor_id", "table_id", "bucket"
    )
    pairs = candidate_pairs(cb, qb)
    # norms precomputed per VECTOR (multi-referenced projection — no
    # CollapseProject inlining), never per candidate pair. The NORM
    # form of the corrupt-vector guard rides the sane-first ranking
    # (r11): the component-form entry guard above cannot see an
    # accumulation-overflow vector (norm = +Inf, every component
    # finite), which would score a fake finite/Inf = 0.0 into top-k
    # slots past the _score_is_sane backstop.
    qv = _vectors(queries, "query_id", "qv", "qn")
    cv = _vectors(candidates, "neighbor_id", "cv", "cn")
    joined = pairs.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
    return _rank_neighbors(joined, k)


#: :func:`auto_lsh_params` tuning: expected rows per bucket, the pair
#: recall the tables must reach at the threshold, the plane range (the
#: bucket weight fold packs one bit per plane into an int64), and the
#: table cap that bounds candidate generation.
_LSH_TARGET_OCCUPANCY = 32
_LSH_RECALL = 0.95
_LSH_MIN_PLANES = 4
_LSH_MAX_PLANES = 16
_LSH_MAX_TABLES = 32


def tables_for_recall(per_table: float, recall: float, cap: int) -> int | None:
    """The smallest table (or band) count T whose recall
    ``1-(1-per_table)^T`` reaches ``recall``, or None when that T
    exceeds ``cap``: the recall equation both LSH resolvers solve
    (:func:`auto_lsh_params`,
    :func:`~mozart_etl_spark.operators.dedup.minhash_lsh_params`)."""
    import math

    if per_table >= 1.0:  # every table collides: one suffices
        return 1
    if per_table <= 0.0:  # no table ever collides: no recall possible
        return None
    t = max(1, math.ceil(math.log(1.0 - recall) / math.log(1.0 - per_table)))
    return t if t <= cap else None


def auto_lsh_params(n_rows: int, threshold: float) -> tuple[int, int]:
    """Resolve (n_planes, n_tables) from corpus size and similarity
    threshold — the knob a FIXED banding configuration lacks at scale.

    With fixed planes, expected bucket occupancy grows linearly with
    the corpus, and within-bucket candidate pairs grow with its
    SQUARE: the sf1.0 stress bench measured ~15x growth per 10x data
    for the fixed 6x6 configuration (SCALING.md). Two closed forms fix
    the parameters instead of guesswork:

    - planes: ``ceil(log2(n_rows / _LSH_TARGET_OCCUPANCY))`` keeps
      expected bucket occupancy ~constant as the corpus grows (each
      extra plane doubles the bucket count), clamped to
      [_LSH_MIN_PLANES, _LSH_MAX_PLANES].
    - tables: per-plane collision odds for angle θ = acos(threshold)
      are ``p = 1 - θ/π`` (random-hyperplane LSH), so one r-plane
      table catches a qualifying pair with ``p^r`` and T tables reach
      recall ``1 - (1 - p^r)^T``; the smallest T meeting
      ``_LSH_RECALL`` is ``ceil(log(1-recall) / log(1-p^r))`` —
      longer signatures are compensated with more tables instead of
      silently trading recall away.

    Cost containment (``_LSH_MAX_TABLES``): each table is a full bucket
    self-join, so the table count is a direct multiplier on candidate
    generation. A low threshold (wide angle -> small per-table
    collision odds) can demand hundreds of tables for the recall
    target — at threshold 0.5 the raw formula wants ~2000 — which
    would EXPLODE cost instead of containing it. Tables are therefore
    clamped to ``_LSH_MAX_TABLES``; if the clamp alone cannot reach the
    recall target, planes are walked back below the occupancy-optimal
    value (shorter signatures -> higher per-table odds) until it can.
    Fewer planes means fuller buckets — the quadratic term returns —
    so the walk-back floor is ``_LSH_MIN_PLANES``; if even
    (min planes, max tables) misses the recall target the function
    raises ValueError naming the gap, because silently returning a
    configuration that is either unaffordable or under-recall would
    hide exactly the failure this resolver exists to prevent.

    At the driver corpus (~500-2k vectors, threshold 0.95) this
    resolves to ~(6, 4) — the certified explicit configuration's
    scale; at 20k it resolves to (10, 8) cutting candidate volume
    ~12x; at 2M it hits the plane cap with 15 tables and ~30/bucket.
    """
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    lo, hi = _LSH_MIN_PLANES, _LSH_MAX_PLANES
    planes = lo
    if n_rows > _LSH_TARGET_OCCUPANCY:
        planes = max(lo, min(hi, math.ceil(math.log2(n_rows / _LSH_TARGET_OCCUPANCY))))
    # occupancy-optimal planes first; walk back toward the floor only
    # as far as the recall target forces
    for cand_planes in range(planes, lo - 1, -1):
        tables = tables_for_recall(p**cand_planes, _LSH_RECALL, _LSH_MAX_TABLES)
        if tables is not None:
            return cand_planes, tables
    raise ValueError(
        f"auto_lsh_params: recall target {_LSH_RECALL} at threshold {threshold} "
        f"needs more than max_tables={_LSH_MAX_TABLES} tables even at min_planes="
        f"{lo} (per-table collision odds {p**lo:.3g})"
    )


#: floor on candidate pairs per rescore partition: each pair costs two
#: vector attaches plus a dim-length interpreted fold (~microseconds of
#: CPU), so a partition must hold enough pairs to amortize its task.
_RESCORE_MIN_PAIRS_PER_PARTITION = 4096
#: bytes AQE sees per candidate row in the dedup exchange (two int64
#: ids + row overhead) — used only to predict when byte-based
#: coalescing will under-parallelize the CPU-heavy rescore.
_CAND_PAIR_BYTES = 48


def _rescore_parallelism_rescue(
    cand: DataFrame, n_rows: int, n_planes: int, n_tables: int
) -> DataFrame:
    """Repartition the id-only candidate pairs before the vector
    re-attach when AQE's BYTE-based partition coalescing would leave
    the CPU-heavy exact rescore under-parallelized (r14, guide §2.5).

    The dedup exchange carries ~16 B/pair, so AQE coalesces it to a
    handful of partitions — but each pair downstream costs two vector
    lookups plus a dim-length cosine fold, ~3 orders of magnitude
    more CPU per byte than AQE's sizing model assumes (measured at
    sf0.1: 135k candidates coalesced to 2 partitions, the rescore ran
    on 2 of 32 cores, 1.47 s -> 0.95 s with the rescue). Data-derived
    at both ends like io.fan_out_scan: expected candidate volume
    comes from the occupancy model that sized the banding
    (E[pairs] ~= tables * n * n / 2^planes / 2), the partition count
    is what that volume justifies (>= _RESCORE_MIN_PAIRS_PER_PARTITION
    pairs each, capped at defaultParallelism), and the rescue is
    SKIPPED when AQE's own byte math already yields at least that
    many partitions — at cluster scale the candidate table is
    gigabytes and coalescing never under-shoots, so this inserts no
    shuffle there.
    """
    spark = cand.sparkSession
    est_pairs = int(n_tables * n_rows * (n_rows / 2**n_planes) / 2)
    justified = min(
        spark.sparkContext.defaultParallelism,
        max(1, est_pairs // _RESCORE_MIN_PAIRS_PER_PARTITION),
    )
    # Spark's own size parser reads the conf as AQE does ("256m",
    # "64MB", bare bytes); conf.set already rejects what it cannot read
    parse = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    advisory = parse(spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    aqe_parts = max(1, est_pairs * _CAND_PAIR_BYTES // advisory)
    if justified > aqe_parts:
        return cand.repartition(justified)
    return cand


#: Largest (table_id, bucket) :func:`lsh_near_dup_pairs` self-joins;
#: a fuller bucket is dropped before the join.
_MAX_BUCKET_SIZE = 256


def lsh_near_dup_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    seed: int = 42,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: LSH-bucketed candidate
    generation + exact cosine rescoring — never an all-pairs join.

    Output: (doc_a, doc_b, cosine 4dp) with doc_a < doc_b and
    cosine >= ``threshold``. Self-join on (table_id, bucket): only
    vectors that collide in at least one LSH table are scored, so the
    join stays equi-join-shaped (AQE-skew-splittable) and the scored
    fraction shrinks with bucket granularity.

    Three stages, in order:

    - **Collapse identical vectors** — the embedding analogue of the
      MinHash chain's exact-duplicate collapse
      (:func:`label_representatives` holds the rationale). Identical
      vectors — md5 of the STRING rendering of the double array, so
      "identical" means value-identical after the double cast;
      zero-norm, NULL, corrupt and ragged vectors stay singletons —
      collapse to their representative before banding; members rejoin
      as (rep, member) star edges with cosine exactly 1.0. The output
      is the SPANNING structure per identical-byte cluster rather than
      all C(k,2) pairs (k-1 star edges; cross-cluster pairs appear
      once at rep level). Distinct-byte vectors (e.g. positively
      scaled copies) are NOT collapsed and flow through banding.
    - **Resolve the banding** from the representatives' count and
      ``threshold`` via :func:`auto_lsh_params`: bucket occupancy
      stays ~constant as the corpus grows, so candidate volume grows
      linearly instead of quadratically, and the table count holds the
      recall target. Costs one ``count()`` of the representatives. The
      sf1.0 stress decade measured a fixed 6x6 configuration at
      10.7x/decade growth vs 1.8x resolved, with the identical 20-pair
      output (SCALING.md).
    - **Cap hot buckets** — the embedding twin of the MinHash band
      join's hot-bucket cap
      (:func:`~mozart_etl_spark.operators.dedup.signature_band_pairs`):
      any (table_id, bucket) with more than :data:`_MAX_BUCKET_SIZE`
      members is dropped before the self-join, bounding worst-case
      candidates at n_buckets·cap² per table. Occupancy-tuned planes
      cannot damp a cluster of near-identical but byte-distinct
      vectors; the collapse above keeps a cluster of identical ones
      out of every bucket, so the cap never drops a whole identical
      cluster. A pair lost with one hot bucket still collides in its
      other tables independently; the recall loss concentrates on
      clusters larger than the cap, whose true pair set is quadratic.
    """
    base = df.select(F.col("vec_id").alias("_cid"), _as_double(F.col("embedding")).alias("_cv"))
    # zero-norm / NULL / NaN / Inf / ragged vectors never reach the
    # threshold filter on the band path (cosine is NULL or NaN there —
    # for Inf pairs the division is Inf/Inf = NaN; ragged vectors are
    # excluded by lsh_banded's dim guard), so a 1.0 star edge for them
    # would be wrong — each stays its own singleton group. NaN and Inf
    # each need the explicit guard: Spark sorts NaN greatest and +Inf
    # above every finite, so a plain norm>0 test would collapse NaN- or
    # Inf-identical vectors into cosine-1.0 star edges their true (NaN)
    # cosine does not support (module corrupt-vector policy, norm
    # form). Ragged needs its own guard here (r12): a truncated vector
    # has a clean norm > 0, and two identical ragged vectors WOULD
    # collapse into a star edge the band path never supports for them.
    norm = F.sqrt(_dot(F.col("_cv"), F.col("_cv")))
    key = F.when(
        (norm > 0) & _norm_is_clean(norm) & _dim_ok(F.col("_cv"), dim),
        F.md5(F.col("_cv").cast("string")),
    ).otherwise(F.concat(F.lit("__solo__"), F.col("_cid").cast("string")))
    base = label_representatives(base.withColumn("_vfp", key), "_cid", "_vfp").localCheckpoint(
        eager=False
    )
    star = base.filter(F.col("_cid") != F.col("_rep_id")).select(
        F.col("_rep_id").alias("doc_a"),
        F.col("_cid").alias("doc_b"),
        F.lit(1.0).alias("cosine"),
    )
    df = base.filter(F.col("_rn") == 1).select(
        F.col("_cid").alias("vec_id"), F.col("_cv").alias("embedding")
    )
    n_rows = df.count()
    n_planes, n_tables = auto_lsh_params(n_rows, threshold)
    # Vectors (with norms precomputed once per doc, not once per pair)
    # re-attach to the id-only candidates for the exact rescoring; at
    # this table size AQE picks a broadcast for the vector side, at
    # 100 TB it degrades to a shuffle join on id — both correct.
    # localCheckpoint: both self-join sides read the banded frame, so a
    # materialization barrier stops the banding expression (the
    # dominant fixed cost) being evaluated once per side. The
    # lineage-truncated blocks are released by the ContextCleaner when
    # the plan is GC'd — no session-lifetime memory pin (vs persist()).
    b = lsh_banded(df, dim, "doc_id", "v", n_planes, n_tables, seed).select(
        "doc_id", "table_id", "bucket"
    )
    # the cap applies BEFORE the checkpoint barrier so the occupancy
    # window is evaluated once into the materialized blocks — after
    # it, both self-join sides would recompute the count independently
    bucket_n = F.count(F.lit(1)).over(Window.partitionBy("table_id", "bucket"))
    b = b.withColumn("_bucket_n", bucket_n).filter(
        F.col("_bucket_n") <= _MAX_BUCKET_SIZE
    ).drop("_bucket_n")
    cand = candidate_pairs(b.localCheckpoint(eager=False), None)
    cand = _rescore_parallelism_rescue(cand, n_rows, n_planes, n_tables)
    vecs = _vectors(df, "doc_id", "v", "n")
    va = vecs.select(F.col("doc_id").alias("doc_a"), F.col("v").alias("va"), F.col("n").alias("na"))
    vb = vecs.select(F.col("doc_id").alias("doc_b"), F.col("v").alias("vb"), F.col("n").alias("nb"))
    cos_raw = _cosine("va", "vb", "na", "nb")
    # ~isnan: Spark sorts NaN greatest, so `NaN >= threshold` is
    # TRUE — without the guard a NaN-norm (NaN-component) vector
    # pair would pass the similarity filter with cosine NaN.
    # Zero-norm needs no twin guard: nullif makes its cosine NULL,
    # and NULL >= threshold is NULL (filtered). Inf vectors need
    # no extra guard HERE either: an Inf-norm pair's cosine is
    # always ±Inf/Inf or NaN/Inf = NaN (caught), or finite/Inf = 0
    # (below threshold) — pinned by the r10 Inf-axis unit tests.
    # Catalyst pushes this filter into the vector join's condition,
    # inlining the fold into each conjunct; `>=` comes first, so a
    # pair below the threshold folds once and only a pair past it
    # folds again.
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .filter((cos_raw >= threshold) & ~F.isnan(cos_raw))
        .select("doc_a", "doc_b", (F.round(cos_raw, 4) + F.lit(0.0)).alias("cosine"))
        .unionByName(star)
    )


def quantize_embeddings(df: DataFrame) -> DataFrame:
    """Symmetric per-vector integer quantization (the int8 compression
    pass embedding stores run before serving): ``scale = max|x| / qmax``
    and ``q_i = round(x_i / scale)`` with ``q_i`` in [-qmax, qmax].
    4× smaller storage and cheap integer dot products, at ~1e-2
    recall-neutral error for normalized embeddings.

    Zero shuffles, linear in corpus size, bit-deterministic under any
    partitioning (the max-abs reduction is exact in any order; the
    per-element round is elementwise). A zero vector keeps scale NULL
    (nothing to quantize), and so does a DENORMAL vector whose
    max|x| < ~3.2e-321: its scale max|x|/127 underflows to exactly
    0.0, which would divide-by-zero (garbage zeros out of the
    kernel, an ANSI error in a SQL engine) — scale-underflow is
    treated as one more NULL-marked class, gated on the computed
    scale rather than on max|x|. A corrupt (NaN- or ±Inf-poisoned) vector
    gets the same NULL-marked row (NULL scale, NULL qvec) a NULL
    input vector gets (module corrupt-vector policy): a NaN component
    makes the raw max-abs NaN, and an Inf component makes it +Inf —
    without the guard the NaN case would cast garbage zeros while a
    SQL engine errors, and the Inf case is sneakier: scale = Inf is a
    perfectly castable number, every finite quotient x/Inf rounds to
    qvec 0, and the Inf component itself quantizes Inf/Inf = NaN ->
    int 0 — a row of plausible-looking zeros with an unusable scale,
    silently corrupting the store in BOTH engines.

    ``q_sum``/``q_l1`` (BIGINT sum and L1 of the quantized array) are
    order-independent exact integer digests, the certification surface
    for a store whose float arrays are not hash-comparable.

    One vectorized numpy pass per Arrow batch behind ``mapInPandas``:
    vectors flatten to a single buffer and ``np.maximum.reduceat`` /
    ``np.add.reduceat`` fold per-row segments, so per-element work is
    C, not interpreted expression evaluation. The kernel's
    trunc+frac round reproduces round-half-away-from-zero (Spark's
    HALF_UP, DuckDB's ``round``) exactly: |q| <= qmax + 1 keeps the
    fractional part exact. Bit-identity with the SQL formulation is
    property-pinned in tests/test_knn_properties.py.

    A vector containing a NULL *element* reaches the kernel as NaN —
    indistinguishable from genuine corruption — so it gets the
    NULL-marked row. Validate upstream if the source can produce NULL
    elements.
    """
    qmax = 127  # int8: q in [-127, 127]
    id_type = df.schema["vec_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("vec_id", id_type),
            T.StructField("scale", T.DoubleType()),
            T.StructField("qvec", T.ArrayType(T.IntegerType())),
            T.StructField("q_sum", T.LongType()),
            T.StructField("q_l1", T.LongType()),
        ]
    )

    def quantize(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            # object columns: NULL must reach Arrow as None — a
            # float-dtype NaN is indistinguishable from a data NaN
            scale_out = np.full(n, None, dtype=object)
            qvec_out: list = [None] * n
            qsum_out = np.full(n, None, dtype=object)
            ql1_out = np.full(n, None, dtype=object)
            vecs = [
                (j, np.asarray(v, dtype=np.float64))
                for j, v in enumerate(pdf["embedding"])
                if v is not None and len(v) > 0
            ]
            if vecs:
                lens = np.array([a.size for _, a in vecs])
                flat = np.concatenate([a for _, a in vecs])
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                bounds = np.cumsum(lens)
                max_abs = np.maximum.reduceat(np.abs(flat), starts)
                # scale is computed BEFORE the ok mask so the mask can
                # reject scale underflow: for max_abs < ~3.2e-321 the
                # quotient max_abs/127 is a subnormal that flushes to
                # exactly 0.0, and an ok row with scale 0 would emit
                # the same plausible-zeros-with-unusable-scale garbage
                # the Inf guard exists for (scale > 0 also covers
                # max_abs == 0 and NaN; isfinite still rejects +Inf)
                scale_raw = max_abs / float(qmax)
                ok = np.isfinite(max_abs) & (max_abs <= _OVERFLOW) & (scale_raw > 0.0)
                scale = np.where(ok, scale_raw, np.nan)
                # round half away from zero, exactly as Spark's
                # HALF_UP and DuckDB/C++ round(): |x| <= qmax + 1
                # keeps the fractional part exactly representable,
                # so the >= 0.5 comparison is exact. Corrupt rows
                # (ok=False) compute garbage lanes that are never
                # read — errstate silences their IEEE warnings.
                with np.errstate(invalid="ignore", over="ignore"):
                    x = flat / np.repeat(np.where(ok, scale, 1.0), lens)
                    t = np.trunc(x)
                    q = np.where(
                        np.isfinite(x),
                        t + np.where(np.abs(x - t) >= 0.5, np.copysign(1.0, x), 0.0),
                        0.0,
                    ).astype(np.int64)
                sums = np.add.reduceat(q, starts)
                l1s = np.add.reduceat(np.abs(q), starts)
                # zero-length reduceat segments can't occur: empty
                # vectors were filtered with the NULLs above
                for row, (j, _) in enumerate(vecs):
                    if ok[row]:
                        scale_out[j] = float(scale[row])
                        qvec_out[j] = q[starts[row] : bounds[row]].astype(np.int32)
                        qsum_out[j] = int(sums[row])
                        ql1_out[j] = int(l1s[row])
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "scale": scale_out,
                    "qvec": qvec_out,
                    "q_sum": qsum_out,
                    "q_l1": ql1_out,
                }
            )

    return df.select("vec_id", "embedding").mapInPandas(quantize, out_schema)
