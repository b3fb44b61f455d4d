"""Streaming → catalog-table sinks via ``foreachBatch``.

Connects the streaming surface to the batch write strategies: each
micro-batch is applied with ``writers.merge_upsert`` (keyed upsert),
so an unbounded stream continuously maintains a queryable table —
late/replayed events overwrite their own key instead of duplicating.
With a checkpoint location the pairing is exactly-once per key
(micro-batch replays after failure re-apply the same idempotent
merge).

The reference's closest behavior is the cron'd incremental load
(``_tenant_factory.py:258-311``, every 2 h); this is the same
contract with seconds-level latency and no scheduler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .. import writers
from . import events


def stream_merge_to_table(
    stream: DataFrame,
    table_ident: str,
    primary_key: tuple[str, ...],
    checkpoint_dir: str,
) -> int:
    """Drain ``stream`` into ``table_ident`` with a keyed merge per
    micro-batch (``availableNow`` here; drop the trigger for a
    continuous run). Returns the table's row count after the drain.

    Idempotent by construction: re-processing a micro-batch merges the
    same keys to the same values, so at-least-once delivery from the
    source still yields exactly-once table state.

    The sink runs in update mode. Over an *aggregated* stream this is
    a **continuous aggregate**: each micro-batch emits only the groups
    it changed, and the merge revises exactly those keys in the
    rollup table — the table converges to the batch GROUP BY without
    ever recomputing it. A stream without aggregation emits every row
    once, as in append mode.

    The drain scopes ``spark.sql.shuffle.partitions`` to one task wave
    of state stores, ``min(8, defaultParallelism)``, exactly like
    :func:`~mozart_etl_spark.streaming.events.run_to_memory`: on a
    bounded replay the per-batch state-store open/commit cost
    dominates. A drain resumed from an existing ``checkpoint_dir``
    keeps the count its checkpoint was created with.

    The drain also scopes
    ``spark.sql.streaming.noDataMicroBatches.enabled=false`` (same
    save/restore pattern; see
    :func:`~mozart_etl_spark.streaming.events.run_to_memory` for the
    soundness contract). Update mode emits a row only when data changes
    it, never on watermark-driven eviction, so availableNow's trailing
    zero-row watermark batch would merge nothing here — it would just
    re-open and re-commit every state store (measured 0.4 s of a 1.6 s
    drain at sf0.1).

    A ``checkpoint_dir`` on the local filesystem is written through the
    FileSystem-API checkpoint manager for the drain, which forks no
    shell command per rename (see
    :func:`~mozart_etl_spark.streaming.events._drain`).
    """

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # the merge's count is observed by its own write job, so the
        # unused per-batch result costs no extra scan
        writers.merge_upsert(batch_df.sparkSession, batch_df, table_ident, primary_key)

    spark = stream.sparkSession
    writer = (
        stream.writeStream.foreachBatch(_merge)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
    events._drain(spark, writer, f"stream merge into {table_ident}", False, checkpoint_dir)
    # the merges ran in foreachBatch's cloned session — refresh this
    # session's view of the table before reading it. If every batch
    # was empty (nothing matched the stream's filter, or a resumed
    # checkpoint was already caught up) the table may not exist at
    # all: that is an empty drain, not an error.
    if not spark.catalog.tableExists(table_ident):
        return 0
    spark.catalog.refreshTable(table_ident)
    return spark.table(table_ident).count()
