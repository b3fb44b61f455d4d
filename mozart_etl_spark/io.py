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
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

CORE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
AUX_TABLES = ("events", "documents", "embeddings")
ALL_TABLES = CORE_TABLES + AUX_TABLES


def table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Load one testdata table as a DataFrame (lazy parquet scan).

    Column pruning and predicate pushdown reach the parquet scan
    because this is a plain ``spark.read.parquet`` — callers should
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
    df = _read_events(spark, path) if name == "events" else spark.read.parquet(path)
    if fan_out:
        df = fan_out_scan(spark, df, path)
    return df


#: fan_out_scan never repartitions a table bigger than this (bytes):
#: one extra pass over the wire must stay trivially amortized by the
#: per-row CPU it unlocks. Row-group-starved files BIGGER than this
#: are a data-layout bug to fix at the writer (guide: aim for
#: 128 MB-1 GB row groups), not something to silently shuffle.
FAN_OUT_MAX_BYTES = int(os.environ.get("SPARK_GRAFT_FANOUT_MAX_BYTES", 8 * 1024**3))

#: partition-sizing floors: a fan-out partition must be worth its
#: task overhead — at least this many rows OR this many bytes
#: (either suffices: a 50-row corpus of 100 MB documents deserves
#: full parallelism on bytes alone; a 100k-row event table on rows
#: alone). Data-derived, so the fan-out degree tracks input size,
#: not core count: a 50-row smoke corpus stays unshuffled instead of
#: becoming 32 one-row tasks.
FAN_OUT_MIN_ROWS = int(os.environ.get("SPARK_GRAFT_FANOUT_MIN_ROWS", 64))
FAN_OUT_MIN_BYTES = int(os.environ.get("SPARK_GRAFT_FANOUT_MIN_BYTES", 4 * 1024**2))

#: path -> ((mtime_ns, size), (row groups, rows, bytes)) from parquet
#: footers; pure file-layout metadata (never row data), probed once
#: per path like the _has_nanos_timestamp footer check. The stat pair
#: invalidates the entry when the path is rewritten within a session —
#: a Spark overwrite replaces the part files, changing the file's (or
#: directory's) mtime — so fan-out decisions track the current layout
#: instead of the first one seen. One entry per path: a rewrite
#: replaces it, so a long session's cache stays bounded by the paths
#: it reads.
_LAYOUT_CACHE: dict[str, tuple[tuple[int, int], tuple[int, int, int]]] = {}


def _parquet_layout(path: str) -> tuple[int, int, int] | None:
    """(sum of row groups, sum of rows, sum of bytes) across the
    path's parquet files, from footer metadata only."""
    try:
        st = os.stat(path)
        sig = (st.st_mtime_ns, st.st_size)
    except OSError:
        return None
    cached = _LAYOUT_CACHE.get(path)
    if cached is not None and cached[0] == sig:
        return cached[1]
    try:
        import pyarrow.parquet as pq

        files = []
        if os.path.isdir(path):
            for root, _dirs, names in os.walk(path):
                files += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
        else:
            files = [path]
        metas = [pq.ParquetFile(f).metadata for f in files]
        row_groups = sum(m.num_row_groups for m in metas)
        rows = sum(m.num_rows for m in metas)
        total_bytes = sum(os.path.getsize(f) for f in files)
    except Exception:
        return None
    _LAYOUT_CACHE[path] = (sig, (row_groups, rows, total_bytes))
    return row_groups, rows, total_bytes


def fan_out_target(spark: SparkSession, path: str) -> int:
    """The fan-out partition count for ``path``, or 0 for "leave the
    scan alone". min(core count, what the data justifies): each
    partition must clear :data:`FAN_OUT_MIN_ROWS` rows or
    :data:`FAN_OUT_MIN_BYTES` bytes, and a layout already carrying
    that many row groups (every production table) needs nothing."""
    layout = _parquet_layout(path)
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


def _has_nanos_timestamp(path: str) -> bool:
    """Cheap parquet-footer check (no Spark job, no noisy task failure)."""
    try:
        import pyarrow.dataset as ds

        schema = ds.dataset(path, format="parquet").schema
        return any(str(f.type) == "timestamp[ns]" for f in schema)
    except Exception:
        return False


def _read_events(spark: SparkSession, path: str) -> DataFrame:
    if _has_nanos_timestamp(path):
        # Spark's parquet reader rejects TIMESTAMP(NANOS) outright;
        # nanosAsLong (dynamic conf) reads it as epoch-ns BIGINT.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    df = normalize_ts_us(df)
    # stable column order: event_id, ts_us, user_id, event_type, value, props
    cols = [c for c in ("event_id", "ts_us", "user_id", "event_type", "value", "props") if c in df.columns]
    return df.select(*cols)


def normalize_ts_us(df: DataFrame, col: str = "ts") -> DataFrame:
    """Replace ``col`` with ``ts_us`` (epoch-microsecond BIGINT),
    whatever physical form the parquet writer chose:

    - epoch-ns BIGINT (the ``nanosAsLong`` legacy read of
      TIMESTAMP(NANOS)) → integer div by 1000;
    - TIMESTAMP_NTZ (parquet ``timestamp[us]`` without a zone, the
      Spark 4 default read) → cast to TIMESTAMP first; the session
      timezone is pinned to UTC, so the cast is the identity on the
      stored wall-clock micros;
    - TIMESTAMP (zone-tagged parquet) → ``unix_micros`` directly.
    """
    dt = dict(df.dtypes).get(col)
    if dt is None:
        return df
    if dt == "bigint":  # nanosAsLong path: col is epoch-ns
        # `div` truncates toward zero — deliberately: DuckDB's own
        # parquet TIMESTAMP(NANOS) -> TIMESTAMP conversion truncates
        # the same way (verified: -1500 ns -> -1 us, not floor's -2),
        # so truncation is what keeps pre-1970 sub-microsecond values
        # oracle-consistent across engines
        return df.withColumn("ts_us", F.expr(f"{col} div 1000")).drop(col)
    if dt == "timestamp_ntz":
        return df.withColumn("ts_us", F.unix_micros(F.col(col).cast("timestamp"))).drop(col)
    return df.withColumn("ts_us", F.unix_micros(F.col(col))).drop(col)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in ALL_TABLES}
