"""SparkSession factory with scale-appropriate defaults.

The reference delegates execution to the source RDB and Trino
(`/root/reference/mozart_etl/lib/extract/connectors/base.py:81-84`,
`_tenant_factory.py:368-371`); here Spark is the engine, so session
defaults matter. Every default below is chosen for the 100 TB design
point but harmless on local[N]:

- AQE on: runtime shuffle-partition coalescing, skew-join splitting,
  and dynamic broadcast-join conversion replace hand-tuned plans.
- UTC session timezone: wall-clock (NTZ-ish) semantics match the
  reference's Trino TIMESTAMP columns and make results reproducible
  across machines (SURVEY.md §7.4).
- Arrow transfers on: any toPandas/applyInPandas boundary is
  vectorized, never row-at-a-time pickling.
- No YARN defaults in the session's Hadoop conf: every entry whose
  only source is ``yarn-default.xml`` (about half of the conf) is
  unset once the session is up. Every scan broadcasts and every write
  task deserializes that conf, and nothing in the engine reads a
  ``yarn.*`` key; ``spark.hadoop.yarn.*`` and ``yarn-site.xml`` values
  stay (SCALING.md, "Cluster scale").
"""

from __future__ import annotations

import os
import warnings
import xml.etree.ElementTree as ET

from pyspark.sql import SparkSession

def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _default_driver_memory() -> str:
    """Half the host's physical memory, between 1 and 24 GiB.

    In local mode the driver JVM is the only executor, so its heap is
    the engine's working memory; the other half stays for the Python
    workers the Arrow kernels run in and for the page cache the parquet
    scans read through. ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    half_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**31
    return f"{max(1, min(24, half_gib))}g"


#: Configs that are safe (and desirable) to apply to an externally
#: provided session at runtime — all are dynamic SQL confs.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # ANSI arithmetic is THE engine posture, not an ambient default
    # (r12 integer-overflow axis): a SUM(BIGINT) accumulator that
    # crosses 2^63 must fail loudly, never wrap silently — pre-ANSI
    # Spark wrapped to a negative total, which at a 100 TB fold is a
    # silently corrupt byte/token budget. Spark 4 defaults ansi=true,
    # but a cluster-side spark-defaults override would silently swap
    # the posture; pinning it here makes the behavior part of the
    # engine. DuckDB-oracle parity on overflow is error-vs-error for
    # scalar arithmetic (both raise) and throw-vs-HUGEINT for
    # SUM(BIGINT) — measured and pinned in tests/test_overflow_parity
    # .py; a fold that needs a VALUE past 2^63 widens its addends in
    # the query itself (sum(CAST(x AS DECIMAL(38,0)))).
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch sizing is the giant-document backstop (r12 axis):
    # Spark 4.1 slices Python-UDF batches by ESTIMATED BYTES, not only
    # record count, so one multi-hundred-MB crawl document forms its
    # own batch instead of riding a 10k-record batch into a multi-GB
    # allocation (and past the 2 GiB 32-bit string-offset ceiling —
    # useLargeVarTypes stays false). Both values are the Spark 4.1
    # defaults, pinned because the engine's per-document size contract
    # (documents ≤ 1 GiB flow through every kernel; pre-chunk bigger
    # ones at ingest — tests/test_giant_docs.py) is derived from them
    # and a cluster-side override would silently void it.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.arrow.maxBytesPerBatch": "64m",
    # Split small inputs across all cores. maxSplitBytes =
    # min(maxPartitionBytes, max(openCostInBytes, total/minPartitionNum)),
    # so these two only bite when the scan is small (a 1-2 MB file
    # otherwise becomes ONE task and every expensive per-row expression
    # runs single-threaded); at 100 TB the 128 MB maxPartitionBytes cap
    # dominates and nothing changes.
    "spark.sql.files.openCostInBytes": str(64 * 1024),
    "spark.sql.files.minPartitionNum": str(default_parallelism()),
}


def get_spark(
    app_name: str = "mozart-etl-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults, on the
    master ``SPARK_GRAFT_MASTER`` names (``local[<cores>]`` by default).

    ``shuffle_partitions`` defaults to the core count locally; on a
    real cluster leave it high (AQE coalesces down at runtime, and
    ``spark.sql.adaptive.autoOptimizeShuffleReads`` style behavior
    comes from coalescePartitions) — the initial number only caps
    post-shuffle parallelism.
    """
    cpus = default_parallelism()
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {
        **RUNTIME_CONFS,
        "spark.sql.shuffle.partitions": str(shuffle_partitions or max(cpus, 8)),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()),
        # managed-table data (raw/mart layers) lands here; in-memory
        # catalog metadata is per-session, so runs are self-contained.
        # The default is PID-scoped: the stale-location cleanup in
        # writers.py may rmtree an orphaned table dir, and a shared
        # warehouse would let one session delete a live table written
        # by a concurrent one (e.g. tests + bench side by side). Set
        # SPARK_GRAFT_WAREHOUSE explicitly to share a warehouse — with
        # a durable catalog (Iceberg/Delta/Hive) that cleanup never
        # runs.
        "spark.sql.warehouse.dir": os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", f"/tmp/mozart_etl_spark_warehouse_{os.getpid()}"
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # files.maxPartitionBytes default 128m is right for large scans;
        # keep explicit so intent is documented.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_runtime_confs(spark)
    _drop_yarn_defaults(spark._jvm, spark.sparkContext._jsc.hadoopConfiguration())
    return spark


def _drop_yarn_defaults(jvm, conf) -> None:
    """Unset every entry of the Hadoop ``Configuration`` ``conf`` whose
    only source is ``yarn-default.xml``.

    MapReduce's ``JobConf`` registers that file as a default resource,
    so its entries ride in ``sessionState.newHadoopConf()``, which
    each write task deserializes from its closure and each scan
    broadcasts. An entry set on purpose (``spark.hadoop.yarn.*``,
    ``yarn-site.xml``) records that source instead and is kept. The
    conf is written out once as XML, which lists each entry's sources,
    so the check costs three round trips plus one ``unset`` per dropped
    entry."""
    out = jvm.java.io.StringWriter()
    conf.writeXml(out)
    for prop in ET.fromstring(out.toString()).iter("property"):
        if [s.text for s in prop.iter("source")] == ["yarn-default.xml"]:
            conf.unset(prop.findtext("name"))


def apply_runtime_confs(spark: SparkSession) -> None:
    """Apply dynamic confs to any session (e.g. one handed to us by a
    harness). All keys in RUNTIME_CONFS are runtime-settable; a build
    where one is not keeps the session's value, with a warning naming
    the key."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            warnings.warn(f"cannot set {k}={v} on this session ({e}); it keeps its own value",
                          stacklevel=2)
