"""Tenant pipeline: extract → raw layer → SQL models, in one run.

The Spark-first collapse of the reference's per-tenant Dagster job
(``_tenant_factory.py:133-185``): each ``tables[]`` entry becomes one
ingest job (extract + load strategy), then the model runner executes
the tenant's SQL models topologically. Multi-tenant isolation is by
catalog namespace — ``{tid}_raw`` / ``{tid}``
(``_tenant_factory.py:196-197``) with the LOCAL/BRANCH ``dev_`` prefix
rule (``utils/environment_helpers.py:12-16``).

Incremental semantics (the *intended* ones, SURVEY.md intro defect 2):
``mode: incremental`` + ``incremental_column`` + a cursor store reads
only rows past the stored watermark, upserts by ``primary_key`` when
configured (append otherwise), and advances the watermark only after a
successful load. Without a cursor store it degrades to the reference's
observed truncate-and-reload.

Scheduling contract:

- every table spec is validated before the first job;
- width: each table is one task on a ``JobPool``, so the tables load
  side by side, at most ``session.default_parallelism()`` at once; a
  task is the table's extract, load strategy and cursor advance, run
  under the caller's job group, description and scheduler pool;
- results come back in spec order;
- failure: every task runs to its end, then the first failure in spec
  order is raised; only tables that landed have advanced their cursors;
- barrier: ``run`` starts no model before every table has landed, so
  no model reads a half-loaded raw layer (``plans/runner.py`` states
  the model scheduler's contract).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from . import writers
from .config import TenantSpec
from .cursor import CursorStore
from .jobpool import JobPool
from .plans.runner import ModelRunner, RunResult
from .sources import extract_table


@dataclass
class IngestResult:
    table: str
    target: str
    strategy: str
    num_rows: int
    new_watermark: Any | None = None


@dataclass
class TenantPipeline:
    spec: TenantSpec
    env: str = "PROD"
    cursor_store: CursorStore | None = None
    frozen_clock: str | None = None
    run_vars: dict[str, Any] = field(default_factory=dict)

    @property
    def raw_ns(self) -> str:
        return self.spec.raw_namespace(self.env)

    @property
    def mart_ns(self) -> str:
        return self.spec.mart_namespace(self.env)

    def _validate_tables(self) -> None:
        """Config errors of every table, raised before any table loads."""
        for t in self.spec.tables:
            if t.tenant_filter and self.spec.params.get(t.tenant_filter) is None:
                # a configured tenant filter with no matching param must
                # be a LOUD config error: silently skipping the predicate
                # would ingest every tenant's rows into this tenant's
                # namespace (cross-tenant data leak)
                raise ValueError(
                    f"table {t.name!r} sets tenant_filter={t.tenant_filter!r} but "
                    f"tenant {self.spec.tenant_id!r} has no param named "
                    f"{t.tenant_filter!r} (params: {sorted(self.spec.params)})"
                )
            if (t.mode == "incremental" and t.incremental_column and t.columns
                    and t.incremental_column not in t.columns):
                # the watermark is taken from the written table, so a
                # projection that drops the cursor column would fail
                # only after the load
                raise ValueError(
                    f"table {t.name!r}: incremental_column "
                    f"{t.incremental_column!r} must be included in the "
                    f"columns projection {tuple(t.columns)}"
                )

    def _ingest_one(self, spark: SparkSession, spec_idx: int) -> IngestResult:
        t = self.spec.tables[spec_idx]
        tenant_value = self.spec.params.get(t.tenant_filter) if t.tenant_filter else None
        target = f"{self.raw_ns}.{t.name}"

        incremental = t.mode == "incremental" and bool(t.incremental_column)
        last_value = None
        if incremental and self.cursor_store is not None:
            last_value = self.cursor_store.get(self.spec.tenant_id, t.name)

        df = extract_table(spark, self.spec.source, t, tenant_value, last_value)

        if not incremental:
            n = writers.full_replace(spark, df, target).num_rows
            return IngestResult(t.name, target, "full", n)

        # the writer reports max(incremental_column) over the table it
        # leaves behind, from the write itself: only data that actually
        # landed can advance the cursor
        wm_col = t.incremental_column if self.cursor_store is not None else None
        if last_value is None:
            # first run (or no cursor store): the reference's observed
            # truncate-and-reload (_tenant_factory.py:290-299)
            written = writers.truncate_reload(spark, df, target, watermark_col=wm_col)
            strategy = "truncate_reload"
        elif t.primary_key:
            written = writers.merge_upsert(
                spark, df, target, t.primary_key, watermark_col=wm_col
            )
            strategy = "merge_upsert"
        else:
            written = writers.append(spark, df, target, watermark_col=wm_col)
            strategy = "append"

        if written.watermark is not None:
            self.cursor_store.set(self.spec.tenant_id, t.name, written.watermark)
        return IngestResult(t.name, target, strategy, written.num_rows, written.watermark)

    def ingest(self, spark: SparkSession) -> list[IngestResult]:
        """Load every table concurrently (module docstring: contract)."""
        self._validate_tables()
        n = len(self.spec.tables)
        with JobPool(spark, n) as pool:
            futures = [pool.submit(self._ingest_one, spark, i) for i in range(n)]
        return [f.result() for f in futures]

    def transform(self, spark: SparkSession) -> list[RunResult]:
        if not self.spec.models_dir:
            return []
        runner = ModelRunner(
            spark=spark,
            models_dir=self.spec.models_dir,
            raw_namespace=self.raw_ns,
            mart_namespace=self.mart_ns,
            variables={"tenant_id": self.spec.tenant_id, **self.spec.params, **self.run_vars},
            frozen_clock=self.frozen_clock,
        )
        return runner.run()

    def run(self, spark: SparkSession) -> dict[str, Any]:
        """Full pipeline run: ingest every table, then all models —
        the reference's ``{tid}_pipeline`` job
        (``_tenant_factory.py:164-168``)."""
        ingests = self.ingest(spark)
        models = self.transform(spark)
        return {"ingest": ingests, "models": models}


def preview(df: DataFrame, n: int = 5) -> list[dict[str, Any]]:
    """5-row preview metadata (reference ``trino.py:55-71``)."""
    return [row.asDict() for row in df.limit(n).collect()]
