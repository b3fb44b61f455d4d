"""Table write strategies for the raw (load) layer.

The reference loads extracted parquet into Iceberg through a Hive
bridge with two strategies (``_tenant_factory.py:258-311``):

- **full replace** — DROP + CTAS (``:300-307``);
- **truncate-reload** — empty clone + DELETE FROM + INSERT INTO
  (``:290-299``; this is what its ``mode: incremental`` actually does);

plus config'd-but-unused ``primary_key`` upsert intent
(``tenant.yaml:25``). Spark writes the catalog directly — no bridge —
and adds the *intended* incremental semantics: ``append`` for
cursor-gated new rows and ``merge_upsert`` for keyed updates.

Every strategy takes a table format (``fmt`` param or
SPARK_GRAFT_TABLE_FORMAT): on a ``delta``/``iceberg`` catalog
``merge_upsert`` issues a real transactional ``MERGE INTO`` in place;
on the plain parquet session catalog used for tests it rewrites the
target via staging + rename-with-restore (read target, anti-join on
key, union, swap). The strategy API is identical either way;
``lakehouse_available`` detects whether the session can actually
write the requested format (this container ships no lakehouse jars,
so those tests skip).

Single pass: a write reports what its callers need from the job that
writes, through ``DataFrame.observe`` on the DataFrame being written,
instead of re-reading the table afterwards.

- ``full_replace``, ``truncate_reload`` and the parquet
  ``merge_upsert`` write the whole new table, so the write job's
  observed row count (and ``max(watermark_col)``) IS the table's. The
  merge also observes the largest number of incoming rows sharing one
  key: that is its duplicate-key check, with no pre-scan.
- ``append`` and the native ``MERGE INTO`` see only the new rows, so
  they run one aggregate over the table after writing: row count and
  watermark together.
- ``scd2_upsert``, ``bucketed_write`` and ``zorder_write`` rewrite the
  whole table and report the observed count; ``partitioned_write``
  may replace only some partitions and counts the table.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

#: Table formats the write strategies can target. ``parquet`` is the
#: session-catalog default; ``delta`` / ``iceberg`` route merge_upsert
#: through a real transactional ``MERGE INTO`` (in-place, no staging
#: swap) and give schema evolution + time travel for free. Select via
#: SPARK_GRAFT_TABLE_FORMAT or the ``fmt`` parameter.
SUPPORTED_FORMATS = ("parquet", "delta", "iceberg")
_MERGE_NATIVE = ("delta", "iceberg")


def resolve_format(fmt: str | None = None) -> str:
    """Effective table format: explicit arg > env > parquet."""
    fmt = fmt or os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"unsupported table format {fmt!r}; pick one of {SUPPORTED_FORMATS}")
    return fmt


def lakehouse_available(spark: SparkSession, fmt: str) -> bool:
    """True when the session can actually write ``fmt`` tables.

    Delta needs the delta-spark jar + SQL extension; Iceberg needs a
    configured catalog ``spark_catalog``-compatible extension. Both are
    detected, never assumed — this container ships neither, so the
    lakehouse tests skip and the parquet path stays the tested default.
    """
    if fmt == "parquet":
        return True
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    if fmt == "delta":
        try:
            import delta  # noqa: F401
        except ImportError:
            return False
        return "DeltaSparkSessionExtension" in ext
    if fmt == "iceberg":
        return "IcebergSparkSessionExtensions" in ext
    return False


def _ensure_namespace(spark: SparkSession, table_ident: str) -> None:
    if "." in table_ident:
        ns = table_ident.rsplit(".", 1)[0]
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {ns}")
    _drop_stale_location(spark, table_ident)


def _drop_stale_location(spark: SparkSession, table_ident: str) -> None:
    """Remove an orphaned managed-table directory.

    The in-memory session catalog forgets table metadata between
    sessions while the warehouse directory persists, so a CREATE from
    a fresh session hits LOCATION_ALREADY_EXISTS. Only applies to the
    local-filesystem warehouse (a durable catalog — Iceberg/Delta/Hive
    — keeps metadata and never gets here).

    Safety: called only immediately before this session writes that
    exact table, and the default warehouse is PID-scoped
    (``session.py``), so a concurrent session's live tables can't be
    hit. Pointing several concurrent sessions at one shared
    SPARK_GRAFT_WAREHOUSE with colliding table names remains unsafe —
    use a durable catalog for that.
    """
    if spark.catalog.tableExists(table_ident):
        return
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if not warehouse or "." not in table_ident:
        return
    path = warehouse.removeprefix("file:")
    # non-local warehouse (s3a://… or file://host/…): leave it to the
    # real catalog
    if "://" in path or path.startswith("//"):
        return
    ns, tbl = table_ident.rsplit(".", 1)
    stale = os.path.join(path, f"{ns}.db", tbl)
    if os.path.exists(stale):
        shutil.rmtree(stale)


class WriteResult(NamedTuple):
    """What a load strategy reports about the table it leaves behind."""

    #: rows in the table after the write
    num_rows: int
    #: ``max(watermark_col)`` over the table after the write; None when
    #: no column was asked for or the table is empty
    watermark: Any = None


def _stats_columns(watermark_col: str | None) -> list:
    cols = [F.count(F.lit(1)).alias("rows")]
    if watermark_col:
        cols.append(F.max(watermark_col).alias("watermark"))
    return cols


def _observed(df: DataFrame, watermark_col: str | None) -> tuple[DataFrame, Observation]:
    """``df`` with its row count (and watermark) observed: the job that
    writes it fills the metrics, so they cost no job of their own."""
    obs = Observation()
    return df.observe(obs, *_stats_columns(watermark_col)), obs


def _result(obs: Observation) -> WriteResult:
    metrics = obs.get
    return WriteResult(int(metrics["rows"]), metrics.get("watermark"))


def _table_stats(spark: SparkSession, table_ident: str, watermark_col: str | None) -> WriteResult:
    """One aggregate job over the whole table, for writes that see only
    the rows they add."""
    row = spark.table(table_ident).agg(*_stats_columns(watermark_col)).collect()[0]
    return WriteResult(int(row["rows"]), row["watermark"] if watermark_col else None)


def _create(
    spark: SparkSession, df: DataFrame, table_ident: str, fmt: str, watermark_col: str | None
) -> WriteResult:
    out, obs = _observed(df, watermark_col)
    out.write.format(fmt).saveAsTable(table_ident)
    return _result(obs)


def full_replace(
    spark: SparkSession,
    df: DataFrame,
    table_ident: str,
    fmt: str | None = None,
    watermark_col: str | None = None,
) -> WriteResult:
    """DROP + CTAS semantics (``_tenant_factory.py:300-307``). Count and
    watermark are observed by the write job."""
    fmt = resolve_format(fmt)
    _ensure_namespace(spark, table_ident)
    out, obs = _observed(df, watermark_col)
    out.write.mode("overwrite").option("overwriteSchema", "true").format(fmt).saveAsTable(
        table_ident
    )
    return _result(obs)


def truncate_reload(
    spark: SparkSession,
    df: DataFrame,
    table_ident: str,
    fmt: str | None = None,
    watermark_col: str | None = None,
) -> WriteResult:
    """Empty-clone + truncate + insert (``_tenant_factory.py:290-299``).

    Preserves the existing table's schema contract: the INSERT fails on
    drift (missing/extra columns, incompatible types) exactly like the
    reference's ``INSERT INTO … SELECT`` — that failure mode is
    intentional parity (SURVEY.md §7.4 schema-drift row). Columns are
    aligned BY NAME to the target's order first: a reordered-but-
    compatible incoming schema must not silently write values into the
    wrong columns through the positional ``insertInto``. Creates the
    table from ``df`` when absent. Count and watermark are observed by
    the write job.
    """
    fmt = resolve_format(fmt)
    _ensure_namespace(spark, table_ident)
    if not spark.catalog.tableExists(table_ident):
        return _create(spark, df, table_ident, fmt, watermark_col)
    target_cols = spark.table(table_ident).columns
    if set(df.columns) != set(target_cols):
        raise ValueError(
            f"schema drift loading {table_ident}: incoming columns "
            f"{sorted(df.columns)} != table columns {sorted(target_cols)}"
        )
    out, obs = _observed(df.select(*target_cols), watermark_col)
    out.write.insertInto(table_ident, overwrite=True)
    return _result(obs)


def append(
    spark: SparkSession,
    df: DataFrame,
    table_ident: str,
    fmt: str | None = None,
    watermark_col: str | None = None,
) -> WriteResult:
    """Append-only incremental load (new rows past the cursor). The
    write sees only the new rows, so count and watermark come from one
    aggregate over the table afterwards."""
    fmt = resolve_format(fmt)
    _ensure_namespace(spark, table_ident)
    if not spark.catalog.tableExists(table_ident):
        return _create(spark, df, table_ident, fmt, watermark_col)
    df.write.mode("append").format(fmt).saveAsTable(table_ident)
    return _table_stats(spark, table_ident, watermark_col)


def merge_upsert(
    spark: SparkSession,
    df: DataFrame,
    table_ident: str,
    primary_key: tuple[str, ...],
    fmt: str | None = None,
    watermark_col: str | None = None,
) -> WriteResult:
    """Keyed upsert: incoming rows replace target rows with the same
    primary key; unmatched target rows are kept. A batch carrying the
    same key twice raises — that is native ``MERGE INTO``'s multiple-
    source-rows error, and the parquet path must not silently keep
    both copies where delta/iceberg would fail.

    Parquet-catalog implementation: target ⟕anti⟕ incoming on the key,
    union incoming, staged write, then rename-with-restore swap — the
    target table exists at every instant: the old table is renamed
    aside, the staging table renamed in, and if that second rename
    fails the old table is renamed back before re-raising. (On Iceberg
    this is a single transactional ``MERGE INTO t USING s ON … WHEN
    MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` — same
    observable result, done in-place.)

    The staged write is the only job: it observes the new table's count
    and watermark, and ``count(*) over (partition by key)`` on the
    incoming rows. A key seen more than once drops the staging table
    and raises before the swap, so the target is untouched; only that
    error path queries again, to name the key. The native path counts
    the table after its ``MERGE INTO``.

    The incoming key set is NOT hinted for broadcast: a large
    incremental batch would OOM the driver under a forced hint, while
    AQE broadcasts it at runtime whenever it actually is small.
    """
    if not primary_key:
        raise ValueError("merge_upsert requires a primary_key")
    fmt = resolve_format(fmt)
    _ensure_namespace(spark, table_ident)
    if not spark.catalog.tableExists(table_ident):
        return _create(spark, df, table_ident, fmt, watermark_col)
    if fmt in _MERGE_NATIVE:
        # transactional in-place MERGE — no staging table, no swap
        # window, concurrent readers see old-or-new atomically
        # one view per call: concurrent merges in a session must not
        # read each other's rows through a shared view name
        src = f"_merge_upsert_src_{uuid.uuid4().hex}"
        df.createOrReplaceTempView(src)
        on = " AND ".join(f"t.{k} = s.{k}" for k in primary_key)
        try:
            spark.sql(
                f"MERGE INTO {table_ident} t USING {src} s ON {on} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            spark.catalog.dropTempView(src)
        return _table_stats(spark, table_ident, watermark_col)
    keys = list(primary_key)
    target = spark.table(table_ident)
    kept = target.join(df.select(*keys).dropDuplicates(), keys, "left_anti")
    dup = Observation()
    incoming = (
        df.select(*target.columns)
        .withColumn("_key_rows", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .observe(dup, F.max("_key_rows").alias("key_rows"))
        .drop("_key_rows")
    )
    merged, obs = _observed(kept.unionByName(incoming), watermark_col)
    staged = _stage(spark, merged, table_ident)
    if (dup.get["key_rows"] or 0) > 1:
        spark.sql(f"DROP TABLE IF EXISTS {staged}")
        raise _duplicate_key_error(df, table_ident, keys)
    _swap(spark, staged, table_ident)
    return _result(obs)


def _duplicate_key_error(df: DataFrame, table_ident: str, keys: list[str]) -> ValueError:
    dup = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .collect()
    )
    key_vals = {k: dup[0][k] for k in keys} if dup else keys
    return ValueError(
        f"merge_upsert into {table_ident}: incoming batch has multiple "
        f"rows for primary key {key_vals} (native MERGE would fail the "
        "same way); dedupe the batch first (e.g. latest-version-wins "
        "window) or use scd2_upsert for versioned history"
    )


def _stage(spark: SparkSession, df: DataFrame, table_ident: str) -> str:
    """Write ``df`` to the staging table of ``table_ident``; returns its name."""
    staged = f"{table_ident}__merge_staging"
    _ensure_namespace(spark, staged)
    df.write.mode("overwrite").format("parquet").saveAsTable(staged)
    return staged


def _swap(spark: SparkSession, staged: str, table_ident: str) -> None:
    """Rename the old table aside, rename ``staged`` in, restore on
    failure. The target exists at every instant."""
    backup = f"{table_ident}__merge_backup"
    spark.sql(f"DROP TABLE IF EXISTS {backup}")
    _drop_stale_location(spark, backup)
    spark.sql(f"ALTER TABLE {table_ident} RENAME TO {backup}")
    try:
        spark.sql(f"ALTER TABLE {staged} RENAME TO {table_ident}")
    except Exception:
        spark.sql(f"ALTER TABLE {backup} RENAME TO {table_ident}")
        raise
    spark.sql(f"DROP TABLE IF EXISTS {backup}")
    # drop any cached file listing for the identifier — readers in other
    # sessions sharing this catalog (e.g. the main session while a
    # foreachBatch clone merges) would otherwise scan the pre-swap files
    spark.catalog.refreshTable(table_ident)


def _overwrite_swap(spark: SparkSession, df: DataFrame, table_ident: str) -> None:
    """Replace ``table_ident`` with ``df`` when ``df`` reads from it.

    Parquet tables can't be read and overwritten in one job — stage
    the result, then swap it in."""
    _swap(spark, _stage(spark, df, table_ident), table_ident)


def scd2_upsert(
    spark: SparkSession,
    df: DataFrame,
    table_ident: str,
    primary_key: tuple[str, ...],
    effective_col: str,
) -> int:
    """Type-2 slowly-changing-dimension upsert: keyed history with
    validity intervals instead of in-place overwrite.

    Target schema = payload columns + ``valid_from`` (the incoming
    ``effective_col`` value), ``valid_to`` (NULL while current) and
    ``is_current``. Batch semantics per key: latest incoming version
    (by ``effective_col``) wins; if its payload differs from the
    current row AND its effective time is strictly after the current
    row's ``valid_from``, the current row is closed at the new
    effective time and a new current version is inserted; identical
    payloads are no-ops. An incoming version whose effective time is
    at or before the current row's ``valid_from`` is STALE — a
    late/replayed batch — and is ignored rather than writing a
    negative validity interval; retroactive history correction is a
    rewrite, not an upsert. The reference's loader keeps only
    latest-state tables (``_tenant_factory.py:258-311``) — dimension
    history is the engine's value-add for auditable marts.

    All set algebra is shuffle-bounded on the key columns; payload
    comparison is an ``md5(to_json(struct(...)))`` digest computed
    Spark-side on both branches (never persisted).
    """
    if not primary_key:
        raise ValueError("scd2_upsert requires a primary_key")

    keys = list(primary_key)
    payload_cols = [c for c in df.columns if c != effective_col]
    value_cols = [c for c in payload_cols if c not in keys]
    digest = F.md5(F.to_json(F.struct(*[F.col(c) for c in sorted(value_cols)])))

    # one version per key per batch: latest effective wins
    w = Window.partitionBy(*keys).orderBy(F.desc(effective_col))
    inc = (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*payload_cols, F.col(effective_col).alias("valid_from"))
        .withColumn("_h", digest)
    )

    _ensure_namespace(spark, table_ident)
    if not spark.catalog.tableExists(table_ident):
        first = inc.select(
            *payload_cols,
            "valid_from",
            F.lit(None).cast(inc.schema["valid_from"].dataType).alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        return _create(spark, first, table_ident, "parquet", None).num_rows

    target = spark.table(table_ident)
    history = target.filter(~F.col("is_current"))
    current = target.filter(F.col("is_current")).withColumn("_h", digest)

    inc_k = inc.select(*keys, F.col("_h").alias("_h_new"), F.col("valid_from").alias("_vf_new"))
    cur_vs_inc = current.join(inc_k, keys, "left")
    # supersede only on a genuinely NEWER differing version: a stale
    # effective time (<= current valid_from) must not close the row
    supersedes = (
        F.col("_h_new").isNotNull()
        & (F.col("_h_new") != F.col("_h"))
        & (F.col("_vf_new") > F.col("valid_from"))
    )
    unchanged = cur_vs_inc.filter(~supersedes).select(*target.columns)
    closed = (
        cur_vs_inc.filter(supersedes)
        .withColumn("valid_to", F.col("_vf_new"))
        .withColumn("is_current", F.lit(False))
        .select(*target.columns)
    )

    cur_k = current.select(
        *keys, F.col("_h").alias("_h_cur"), F.col("valid_from").alias("_vf_cur")
    )
    fresh = (
        inc.join(cur_k, keys, "left")
        .filter(
            F.col("_h_cur").isNull()
            | ((F.col("_h_cur") != F.col("_h")) & (F.col("valid_from") > F.col("_vf_cur")))
        )
        .select(
            *payload_cols,
            "valid_from",
            F.lit(None).cast(inc.schema["valid_from"].dataType).alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
        .select(*target.columns)
    )

    result, obs = _observed(
        history.unionByName(unchanged).unionByName(closed).unionByName(fresh), None
    )
    _overwrite_swap(spark, result, table_ident)
    return _result(obs).num_rows


def partitioned_write(
    spark: SparkSession,
    df: DataFrame,
    table_ident: str,
    partition_cols: tuple[str, ...],
    mode: str = "overwrite",
) -> int:
    """Hive-style partitioned table write (the reference's daily/monthly
    partitioned assets, ``lib/executable_component.py:19-75``).

    Readers filtering on ``partition_cols`` get partition pruning —
    ``.explain`` shows the predicate under PartitionFilters and
    untouched partitions are never listed. Backfill = re-run with the
    bounded extract; dynamic overwrite replaces only the partitions
    present in ``df``, so the count is one job over the table after
    the write.
    """
    _ensure_namespace(spark, table_ident)
    # dynamic mode only for THIS write: leaking it onto the session
    # would silently turn every later INSERT OVERWRITE (e.g.
    # truncate_reload) into a partial, partition-local overwrite
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        if spark.catalog.tableExists(table_ident):
            # dynamic overwrite only applies to INSERT OVERWRITE — a
            # saveAsTable("overwrite") drops and recreates the whole
            # table. insertInto is positional: align to the target
            # column order.
            target_cols = spark.table(table_ident).columns
            df.select(*target_cols).write.insertInto(table_ident, overwrite=(mode == "overwrite"))
        else:
            (
                df.write.mode(mode)
                .format("parquet")
                .partitionBy(*partition_cols)
                .saveAsTable(table_ident)
            )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return spark.table(table_ident).count()


def bucketed_write(
    spark: SparkSession,
    df: DataFrame,
    table_ident: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
) -> int:
    """Bucketed + sorted table write for co-located joins.

    Two tables bucketed the same way join with NO shuffle exchange on
    either side — the physical plan reads buckets pairwise. This is
    the pre-shuffle investment that pays off when a big table is
    joined on the same key repeatedly (fact-to-fact joins at 100 TB).
    """
    _ensure_namespace(spark, table_ident)
    out, obs = _observed(df, None)
    (
        out.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table_ident)
    )
    return _result(obs).num_rows


def _zvalue(cols: list, mins: list, maxs: list, bits: int = 16) -> "F.Column":
    """Morton (Z-order) interleave of ``cols`` scaled to ``bits`` bits.

    Each column is min-max scaled to [0, 2^bits) and the bit-planes are
    interleaved — a pure JVM fold over ``sequence(0, bits-1)``, no UDF.

    ``bits`` is clamped so the highest interleaved position stays
    below the bigint sign bit: with n columns the positions run to
    ``bits*n - 1``, so bits > 63 // n would set bit 63 (rows with the
    last column's MSB sort negative-first) and beyond that Java masks
    shift distances mod 64, scrambling the curve entirely. 63 // n
    bits per column keeps the full curve exact for any column count.
    """
    n = len(cols)
    bits = min(bits, 63 // n)
    scaled = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = F.when(hi == lo, F.lit(1)).otherwise((hi - lo).cast("double"))
        scaled.append(
            F.least(
                F.lit(2**bits - 1),
                F.floor((c - lo).cast("double") / span * (2**bits - 1)).cast("bigint"),
            )
        )
    # static unroll: bits is small and constant, and an unrolled
    # expression stays inside whole-stage codegen
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, s in enumerate(scaled):
            bit = F.shiftrightunsigned(
                s.bitwiseAND(F.shiftleft(F.lit(1).cast("bigint"), i)), i
            )
            z = z.bitwiseOR(F.shiftleft(bit, i * n + j))
    return z


def zorder_write(
    spark: SparkSession,
    df: DataFrame,
    table_ident: str,
    zorder_cols: tuple[str, ...],
    n_files: int = 32,
    bits: int = 16,
) -> int:
    """Z-order clustered write: co-locate rows that are close in ALL
    ``zorder_cols`` into the same files, so parquet min/max statistics
    prune file reads for predicates on *any* of the columns — the
    layout Delta's ``OPTIMIZE ZORDER BY`` / Iceberg's sort orders
    produce, for the parquet session catalog.

    A single-dimension sort gives perfect pruning on one column and
    none on the others; the Morton curve bounds every file to a small
    hyper-rectangle of the value space, so a 100 TB fact table queried
    by both user and time skips most files for either predicate.
    Column min/max come from one tiny aggregate broadcast into the
    scan; the layout pass itself is one range exchange on the z-value
    (sampled boundaries, no skew pile-up) + a within-partition sort.
    """
    cols = [F.col(c) for c in zorder_cols]
    stats = df.agg(
        *[F.min(c).alias(f"_lo{i}") for i, c in enumerate(zorder_cols)],
        *[F.max(c).alias(f"_hi{i}") for i, c in enumerate(zorder_cols)],
    )
    with_stats = df.crossJoin(F.broadcast(stats))
    z = _zvalue(
        cols,
        [F.col(f"_lo{i}") for i in range(len(cols))],
        [F.col(f"_hi{i}") for i in range(len(cols))],
        bits=bits,
    )
    laid_out = (
        with_stats.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", *[f"_lo{i}" for i in range(len(cols))], *[f"_hi{i}" for i in range(len(cols))])
    )
    _ensure_namespace(spark, table_ident)
    out, obs = _observed(laid_out, None)
    out.write.mode("overwrite").format("parquet").saveAsTable(table_ident)
    return _result(obs).num_rows


def compact_table(
    spark: SparkSession,
    table_ident: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> tuple[int, int]:
    """Small-files compaction: rewrite a table into ~``target_file_bytes``
    files. Returns ``(files_before, files_after)``.

    Streaming sinks (one file per micro-batch per partition) and
    incremental appends accumulate thousands of tiny files; at scale
    every downstream scan then pays per-file open cost and the driver
    pays listing cost, so periodic compaction is part of the table's
    lifecycle (Delta OPTIMIZE / Iceberg rewrite_data_files do this
    natively — this is the parquet-catalog equivalent).

    Sizing uses Catalyst's file-statistics estimate (scheme-agnostic —
    works for s3a the same as local). The rewrite uses ``coalesce``,
    a narrow dependency: executors concatenate input partitions
    without a shuffle, so compaction costs one read + one write and
    no exchange. The swap is the same rename-with-restore used by
    merge_upsert — the table exists at every instant. No-op (no
    rewrite at all) when the table is already compact.
    """
    df = spark.table(table_ident)
    files_before = len(df.inputFiles())
    # file-source size estimate (sum of file lengths) from the plan
    # statistics; no data is read to compute it
    size_bytes = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    n_target = max(1, -(-size_bytes // target_file_bytes))
    if files_before <= n_target:
        return files_before, files_before
    _overwrite_swap(spark, df.coalesce(n_target), table_ident)
    return files_before, len(spark.table(table_ident).inputFiles())


