"""Table loaders for the synthetic testdata layout.

``/root/testdata/sf*/{name}.parquet`` — TPC-H-ish star schema plus
``events`` / ``documents`` / ``embeddings`` (see TESTDATA.md).

Two normalizations happen here so every downstream query is
deterministic and portable:

1. **Session timezone pinned to UTC** before any read, so
   TIMESTAMP (LTZ) values collected by any harness render identically
   to the naive timestamps a SQL oracle (DuckDB) produces.
2. **Nanosecond timestamps**: ``events.ts`` is parquet
   TIMESTAMP(NANOS), which Spark's vectorized reader rejects
   (PARQUET_TYPE_ILLEGAL). We flip the dynamic conf
   ``spark.sql.legacy.parquet.nanosAsLong`` and expose the column as
   ``ts_us`` (epoch **microseconds**, BIGINT) — truncation matches
   DuckDB's ``CAST(ts AS TIMESTAMP)``. Working in integer epoch space
   also keeps every time computation timezone-proof.

**Parquet metadata cache.** Every local parquet read goes through
:func:`read_parquet` / :func:`parquet_schema`. A bare
``spark.read.parquet`` runs a footer-inference Spark job each time;
the cache keeps, per session and per local path, the ``StructType``
Spark itself inferred there, and reads again with
``spark.read.schema(cached)`` (no job). Contract:

- the key is the path, the ``(inode, mtime_ns, size)`` of every file
  under it (so adding, removing or rewriting any part file is a
  miss), and the session confs that change what Spark infers
  (:data:`SCHEMA_CONFS`); both halves must match for a hit;
- one entry per path: a changed key replaces it, so a long session's
  cache stays bounded by the paths it reads. The same entry holds the
  footer layout (:func:`fan_out_target`) and the nanos flag;
- local paths only (:func:`local_path`: a ``file:`` URI, or a path
  without a scheme when ``fs.defaultFS`` is local): any other
  filesystem (``s3a://``, ``hdfs://`` …) always takes the bare read,
  and a listing that fails takes it with a warning;
- the cached schema is Spark's own inference from the miss's bare
  read, so a hit's schema is identical to a bare read's by
  construction.
"""

from __future__ import annotations

import os
import warnings
from dataclasses import dataclass
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan).

    Column pruning and predicate pushdown reach the parquet scan
    because this is a plain parquet scan (:func:`read_parquet`; a
    supplied schema changes nothing downstream) — callers should
    ``select``/``filter`` on the result and let Catalyst push down
    (both pass through the ``fan_out`` repartition untouched).

    ``fan_out=True`` opts a CPU-heavy consumer (shingle explodes,
    hash kernels, vector math — the LLM-pipeline operators) into
    :func:`fan_out_scan`: when the file's ROW-GROUP count is below
    the session's default parallelism, a parquet scan cannot
    parallelize past it (row groups are the read granularity — a
    single-row-group file runs every downstream narrow stage on ONE
    core no matter how many byte-range splits the scheduler makes),
    so the scan is round-robin repartitioned up to the core count.
    Conditional by construction: at the 100 TB design point every
    table has thousands of row groups and the helper is a no-op —
    this never inserts a shuffle where the layout already feeds the
    cluster.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = _read_events(spark, path) if name == "events" else read_parquet(spark, path)
    if fan_out:
        df = fan_out_scan(spark, df, path)
    return df


#: fan_out_scan never repartitions a table bigger than this (bytes):
#: one extra pass over the wire must stay trivially amortized by the
#: per-row CPU it unlocks. Row-group-starved files BIGGER than this
#: are a data-layout bug to fix at the writer (guide: aim for
#: 128 MB-1 GB row groups), not something to silently shuffle.
FAN_OUT_MAX_BYTES = 8 * 1024**3

#: partition-sizing floors: a fan-out partition must be worth its
#: task overhead — at least this many rows OR this many bytes
#: (either suffices: a 50-row corpus of 100 MB documents deserves
#: full parallelism on bytes alone; a 100k-row event table on rows
#: alone). Data-derived, so the fan-out degree tracks input size,
#: not core count: a 50-row smoke corpus stays unshuffled instead of
#: becoming 32 one-row tasks.
FAN_OUT_MIN_ROWS = 64
FAN_OUT_MIN_BYTES = 4 * 1024**2

#: session confs that change the schema Spark infers for a parquet
#: path (the last two for hive-partitioned ``k=v/`` directories); part
#: of every schema-cache key
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
)


@dataclass
class _PathMeta:
    """What the session knows about one local parquet path while its
    files stay as ``files`` says. The fields after ``files`` are filled
    on first use."""

    #: the OS path (:func:`local_path`)
    path: str
    #: ((file, inode, mtime_ns, size), ...) for every file under the path
    files: tuple[tuple[str, int, int, int], ...]
    #: (row groups, rows, bytes) summed over the path's parquet files;
    #: None until the footers are read, and when they cannot be
    layout: tuple[int, int, int] | None = None
    #: whether any of them has a TIMESTAMP(NANOS) column; None until
    #: the footers are read
    has_nanos: bool | None = None
    #: (SCHEMA_CONFS values, the schema Spark inferred under them)
    schema: tuple[tuple[str, ...], StructType] | None = None


#: local path -> its metadata. One entry per path: a changed file
#: signature replaces the entry, a changed conf its schema.
_PARQUET_CACHE: dict[str, _PathMeta] = {}


def _raise(err: OSError) -> None:
    raise err


def _file_signature(path: str) -> tuple[tuple[str, int, int, int], ...]:
    """(file, inode, mtime_ns, size) of every file under ``path``
    (``path`` itself when it is a file); raises OSError."""
    if os.path.isdir(path):
        files = sorted(
            os.path.join(root, n)
            for root, _dirs, names in os.walk(path, onerror=_raise)
            for n in names
        )
    else:
        files = [path]
    sig = []
    for f in files:
        st = os.stat(f)
        sig.append((f, st.st_ino, st.st_mtime_ns, st.st_size))
    return tuple(sig)


def local_path(spark: SparkSession, path: str) -> str | None:
    """The OS path that ``path`` names on the local filesystem, or None
    when it names another filesystem. A ``file:`` URI without a host
    (``file:/d``, ``file:///d``) is local; a path without a scheme
    resolves against Hadoop's ``fs.defaultFS``, as Spark resolves it."""
    parsed = urlparse(path)
    scheme = parsed.scheme
    if not scheme:
        default_fs = spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
        scheme = urlparse(default_fs or "file:///").scheme
    if scheme != "file" or parsed.netloc:
        return None
    return parsed.path if parsed.scheme else path


def _path_meta(spark: SparkSession, path: str) -> _PathMeta | None:
    """The cache entry for ``path``, current with its files; None when
    the path is not local, and (with a warning) when listing fails."""
    local = local_path(spark, path)
    if local is None:
        return None
    try:
        files = _file_signature(local)
    except OSError as e:
        warnings.warn(f"cannot list parquet path {path!r} ({e}); its metadata is not cached",
                      stacklevel=3)
        return None
    meta = _PARQUET_CACHE.get(local)
    if meta is None or meta.files != files:
        meta = _PARQUET_CACHE[local] = _PathMeta(local, files)
    return meta


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that runs no schema-inference job
    once the session has inferred the path's schema (module
    docstring: key, one entry per path, local paths only)."""
    meta = _path_meta(spark, path)
    if meta is None:
        return spark.read.parquet(path)
    confs = _schema_confs(spark)
    if meta.schema is not None and meta.schema[0] == confs:
        return spark.read.schema(meta.schema[1]).parquet(path)
    df = spark.read.parquet(path)
    meta.schema = (confs, df.schema)
    return df


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema a bare ``spark.read.parquet(path)`` gives; a hit
    builds no DataFrame."""
    meta = _path_meta(spark, path)
    if meta is not None and meta.schema is not None and meta.schema[0] == _schema_confs(spark):
        return meta.schema[1]
    return read_parquet(spark, path).schema


def _schema_confs(spark: SparkSession) -> tuple[str, ...]:
    return tuple(spark.conf.get(k) for k in SCHEMA_CONFS)


def _read_footers(spark: SparkSession, path: str) -> _PathMeta | None:
    """The cache entry for ``path`` with ``layout`` and ``has_nanos``
    filled from one read of each parquet file's footer; None when the
    path is not local. Footers that cannot be read warn once, leave
    ``layout`` None and read as no TIMESTAMP(NANOS) column."""
    meta = _path_meta(spark, path)
    if meta is None or meta.has_nanos is not None:
        return meta
    parts = [(f, size) for f, _ino, _mtime, size in meta.files
             if f == meta.path or f.endswith(".parquet")]
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        metas = [pq.ParquetFile(f).metadata for f, _size in parts]
    except (OSError, pa.ArrowException) as e:
        warnings.warn(f"cannot read parquet footers under {path!r} ({e}); the scan is "
                      "not fanned out and is read without nanosAsLong", stacklevel=3)
        meta.has_nanos = False
        return meta
    meta.layout = (
        sum(m.num_row_groups for m in metas),
        sum(m.num_rows for m in metas),
        sum(size for _f, size in parts),
    )
    meta.has_nanos = any(
        str(f.type) == "timestamp[ns]" for m in metas for f in m.schema.to_arrow_schema()
    )
    return meta


def _parquet_layout(spark: SparkSession, path: str) -> tuple[int, int, int] | None:
    """(sum of row groups, sum of rows, sum of bytes) across the
    path's parquet files, from footer metadata only."""
    meta = _read_footers(spark, path)
    return None if meta is None else meta.layout


def fan_out_target(spark: SparkSession, path: str) -> int:
    """The fan-out partition count for ``path``, or 0 for "leave the
    scan alone". min(core count, what the data justifies): each
    partition must clear :data:`FAN_OUT_MIN_ROWS` rows or
    :data:`FAN_OUT_MIN_BYTES` bytes, and a layout already carrying
    that many row groups (every production table) needs nothing."""
    layout = _parquet_layout(spark, path)
    if layout is None:
        return 0
    row_groups, rows, total_bytes = layout
    if total_bytes > FAN_OUT_MAX_BYTES:
        return 0
    justified = max(rows // FAN_OUT_MIN_ROWS, total_bytes // FAN_OUT_MIN_BYTES)
    target = min(spark.sparkContext.defaultParallelism, justified)
    return target if row_groups < target else 0


def fan_out_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Round-robin repartition an under-split parquet scan up to what
    the data justifies (r14, guide §2.5 "input skew … repartition
    immediately after the read" / §2.6 idle capacity).

    Parquet row groups are the unit of scan parallelism; splitting a
    file finer than its row groups yields EMPTY tasks (the row group
    goes to the split holding its midpoint). The local testdata is
    one row group per table, so without this every scan — and every
    narrow CPU-heavy stage above it (explode, md5, Arrow kernels) —
    runs single-threaded while the other 31 cores idle (measured at
    sf0.1: span-occurrence explode 0.82 s -> 0.30 s).

    The decision uses footer METADATA only (:func:`fan_out_target`),
    so it is scale-adaptive at both ends, never core-count-tuned: a
    production table with healthy 128 MB+ row groups takes no
    repartition (row groups >= target), and a tiny smoke corpus takes
    none either (the rows/bytes floors return 0-1) instead of paying
    32 one-row tasks per stage.
    """
    target = fan_out_target(spark, path)
    if target > 1:
        return df.repartition(target)
    return df


def _has_nanos_timestamp(spark: SparkSession, path: str) -> bool:
    """Whether a parquet file under ``path`` has a TIMESTAMP(NANOS)
    column, from its footer (no Spark job, no noisy task failure)."""
    meta = _read_footers(spark, path)
    return meta is not None and meta.has_nanos


def events_raw_schema(spark: SparkSession, path: str) -> StructType:
    """Set the session's read mode for an events parquet (UTC session
    timezone; ``nanosAsLong`` when ``ts`` is TIMESTAMP(NANOS)) and
    return the file's raw schema under it — what a file-source stream
    over the same files must declare."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    _nanos_read_mode(spark, path)
    return parquet_schema(spark, path)


def _nanos_read_mode(spark: SparkSession, path: str) -> None:
    if _has_nanos_timestamp(spark, path):
        # Spark's parquet reader rejects TIMESTAMP(NANOS) outright;
        # nanosAsLong (dynamic conf) reads it as epoch-ns BIGINT.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    _nanos_read_mode(spark, path)
    df = read_parquet(spark, path)
    df = normalize_ts_us(df)
    # stable column order: event_id, ts_us, user_id, event_type, value, props
    cols = [c for c in ("event_id", "ts_us", "user_id", "event_type", "value", "props") if c in df.columns]
    return df.select(*cols)


def normalize_ts_us(df: DataFrame) -> DataFrame:
    """Replace ``ts`` with ``ts_us`` (epoch-microsecond BIGINT),
    whatever physical form the parquet writer chose:

    - epoch-ns BIGINT (the ``nanosAsLong`` legacy read of
      TIMESTAMP(NANOS)) → integer div by 1000;
    - TIMESTAMP_NTZ (parquet ``timestamp[us]`` without a zone, the
      Spark 4 default read) → cast to TIMESTAMP first; the session
      timezone is pinned to UTC, so the cast is the identity on the
      stored wall-clock micros;
    - TIMESTAMP (zone-tagged parquet) → ``unix_micros`` directly.
    """
    dt = dict(df.dtypes).get("ts")
    if dt is None:
        return df
    if dt == "bigint":  # nanosAsLong path: ts is epoch-ns
        # `div` truncates toward zero — deliberately: DuckDB's own
        # parquet TIMESTAMP(NANOS) -> TIMESTAMP conversion truncates
        # the same way (verified: -1500 ns -> -1 us, not floor's -2),
        # so truncation is what keeps pre-1970 sub-microsecond values
        # oracle-consistent across engines
        return df.withColumn("ts_us", F.expr("ts div 1000")).drop("ts")
    if dt == "timestamp_ntz":
        return df.withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp"))).drop("ts")
    return df.withColumn("ts_us", F.unix_micros(F.col("ts"))).drop("ts")
