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

Every strategy writes the table format SPARK_GRAFT_TABLE_FORMAT
names (default ``parquet``): on a ``delta``/``iceberg`` catalog
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
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .io import local_path

#: Table formats the write strategies can target. ``parquet`` is the
#: session-catalog default; ``delta`` / ``iceberg`` route merge_upsert
#: through a real transactional ``MERGE INTO`` (in-place, no staging
#: swap) and give schema evolution + time travel for free. Select via
#: SPARK_GRAFT_TABLE_FORMAT.
SUPPORTED_FORMATS = ("parquet", "delta", "iceberg")
_MERGE_NATIVE = ("delta", "iceberg")


def resolve_format() -> str:
    """Effective table format: SPARK_GRAFT_TABLE_FORMAT, else parquet."""
    fmt = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")
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
    path = local_path(spark, warehouse)
    # non-local warehouse (s3a://… or file://host/…): leave it to the
    # real catalog
    if path is None:
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


def full_replace(spark: SparkSession, df: DataFrame, table_ident: str) -> WriteResult:
    """DROP + CTAS semantics (``_tenant_factory.py:300-307``). The count
    is observed by the write job; a full load keeps no watermark."""
    fmt = resolve_format()
    _ensure_namespace(spark, table_ident)
    out, obs = _observed(df, None)
    out.write.mode("overwrite").option("overwriteSchema", "true").format(fmt).saveAsTable(
        table_ident
    )
    return _result(obs)


def truncate_reload(
    spark: SparkSession,
    df: DataFrame,
    table_ident: str,
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
    fmt = resolve_format()
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
    watermark_col: str | None = None,
) -> WriteResult:
    """Append-only incremental load (new rows past the cursor). The
    write sees only the new rows, so count and watermark come from one
    aggregate over the table afterwards."""
    fmt = resolve_format()
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
    fmt = resolve_format()
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
    # a left-anti join emits each target row at most once however often
    # a key repeats on the right, so the keys need no distinct (and no
    # shuffle of their own); repeats are caught by the observed count
    kept = target.join(df.select(*keys), keys, "left_anti")
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
        "window)"
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
