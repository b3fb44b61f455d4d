"""Topological model execution against a SparkSession.

The Spark-first collapse of the reference's dbt-build step
(``_tenant_factory.py:361-392``): each model renders to one Spark SQL
statement whose ``source()``/``ref()`` calls resolve to fully
qualified catalog tables, executes distributed, and materializes with
``saveAsTable`` (the reference's ``+materialized: table`` CTAS,
``dbt_project.yml:14-25``). Run metadata per model — row count and a
5-row preview — mirrors ``_tenant_factory.py:373,385-390``.

Scheduling contract (dbt's DAG-ordered threads, ``profiles.yml:14,26``):

- a model starts as soon as every model it ``ref()``s has finished —
  an eager ready set, not fixed waves; the scheduling thread renders it
  at that moment (``is_incremental()`` sees the target as it is then)
  and a worker thread runs its SQL and write;
- width: a ``JobPool``, so as many worker threads as models are ready
  at once, capped by ``session.default_parallelism()``, each running
  under the caller's job group, description and scheduler pool;
- results come back in topological order, whatever order the models
  finished in; the scheduling thread takes each preview as its model
  finishes;
- failure: once a model fails nothing new starts, the models already
  running finish, and the first failure in topological order is
  raised; models downstream of it never run, so their targets are not
  created or replaced.

Callers keep any barrier they need before the run: the tenant pipeline
loads every raw table before the first model starts.
"""

from __future__ import annotations

import os
from concurrent.futures import FIRST_COMPLETED, Future, wait
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession

from .. import writers
from ..jobpool import JobPool
from .graph import ModelGraph
from .render import RenderedModel, render_model


@dataclass
class RunResult:
    model: str
    target: str
    num_rows: int
    preview: list[dict[str, Any]] = field(default_factory=list)


@dataclass
class ModelRunner:
    """Executes a model directory for one tenant.

    - ``source('raw', t)`` resolves to ``{raw_namespace}.t``;
    - ``ref(m)`` resolves to ``{mart_namespace}.{alias(m)}`` with the
      model's own ``schema`` config honored when present (the
      reference's pass-through schema macro,
      ``macros/generate_schema_name.sql:1-7``);
    - vars = ``{"tenant_id": …, **tenant.params, **run_vars}``
      (``_tenant_factory.py:364``).
    """

    spark: SparkSession
    models_dir: str
    raw_namespace: str
    mart_namespace: str
    variables: dict[str, Any] = field(default_factory=dict)
    frozen_clock: str | None = None

    def _resolve_source(self, group: str, tbl: str) -> str:
        # single-source tenants: every source group maps to the raw layer
        return f"{self.raw_namespace}.{tbl}"

    def _kind(self, target: str) -> str | None:
        """``target``'s catalog object kind: None when it is absent,
        else its upper-cased table type (``"VIEW"``, ``"MANAGED"``, …)."""
        if not self.spark.catalog.tableExists(target):
            return None
        return (self.spark.catalog.getTable(target).tableType or "").upper()

    def _drop_conflicting(self, target: str, want: str, kind: str | None) -> None:
        """Drop ``target`` (of catalog kind ``kind``) only when it exists
        as the OTHER object kind: DROP TABLE on a view (and saveAsTable
        onto a view) is WRONG_COMMAND_FOR_OBJECT_TYPE, so
        materialization changes (table <-> view) must clear the old
        object first. Same-kind re-runs are left to CREATE OR REPLACE /
        overwrite."""
        if kind is None:
            return
        if want == "view" and kind != "VIEW":
            self.spark.sql(f"DROP TABLE IF EXISTS {target}")
        elif want != "view" and kind == "VIEW":
            self.spark.sql(f"DROP VIEW IF EXISTS {target}")

    def _target_for(self, schema: str, alias: str) -> str:
        ns = schema or self.mart_namespace
        return f"{ns}.{alias}"

    def run(self) -> list[RunResult]:
        """Render + execute all models; results in topo order (module
        docstring: scheduling contract)."""
        graph = ModelGraph.from_dir(
            self.models_dir, variables=self.variables, frozen_clock=self.frozen_clock
        )
        # alias/schema lookup for ref() resolution
        targets = {
            name: self._target_for(m.schema, m.alias) for name, m in graph.models.items()
        }
        # two models resolving to one table silently overwrite each
        # other (last-in-topo-order wins) — fail like dbt's duplicate-
        # relation compilation error instead
        by_target: dict[str, str] = {}
        for name, target in targets.items():
            if target in by_target:
                raise ValueError(
                    f"models {by_target[target]!r} and {name!r} both "
                    f"materialize to {target!r}; give one a distinct "
                    "alias/schema"
                )
            by_target[target] = name

        def resolve_ref(model: str) -> str:
            if model not in targets:
                raise ValueError(f"ref() to unknown model {model!r}")
            return targets[model]

        # the namespaces the models write to; a view's CREATE needs its
        # namespace, and no writer runs for it
        for ns in {m.schema or self.mart_namespace for m in graph.models.values()}:
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {ns}")

        waiting = {n: set(graph.models[n].refs) for n in graph.order}
        done: dict[str, RunResult] = {}
        failed: dict[str, BaseException] = {}
        with JobPool(self.spark, len(graph.order)) as pool:
            running: dict[Future, str] = {}

            def launch_ready() -> None:
                for name in [n for n, deps in waiting.items() if not deps]:
                    del waiting[name]
                    kind, model = self._render(name, graph, targets[name], resolve_ref)
                    fut = pool.submit(self._materialize, model, targets[name], kind)
                    running[fut] = name

            launch_ready()
            while running:
                finished, _ = wait(running, return_when=FIRST_COMPLETED)
                landed = []
                for fut in finished:
                    name = running.pop(fut)
                    if fut.exception() is not None:
                        failed[name] = fut.exception()
                        continue
                    landed.append((name, fut.result()))
                    for deps in waiting.values():
                        deps.discard(name)
                if not failed:
                    launch_ready()
                # previews after the launch, so they overlap the models
                # that just became ready
                for name, num_rows in landed:
                    done[name] = RunResult(name, targets[name], num_rows,
                                           self._preview(targets[name]))
        for name in graph.order:
            if name in failed:
                raise failed[name]
        return [done[n] for n in graph.order]

    def _render(
        self, name: str, graph: ModelGraph, target: str, resolve_ref
    ) -> tuple[str | None, RenderedModel]:
        """(``target``'s catalog kind, the rendered model). The one
        catalog lookup of the target serves ``is_incremental()`` and
        :meth:`_materialize`'s conflict drop."""
        kind = self._kind(target)
        return kind, render_model(
            os.path.join(self.models_dir, f"{name}.sql"),
            variables=self.variables,
            resolve_source=self._resolve_source,
            resolve_ref=resolve_ref,
            frozen_clock=self.frozen_clock,
            is_incremental=self._incremental_run(graph.models[name].materialized, kind),
            this=target,
        )

    @staticmethod
    def _incremental_run(materialized: str, kind: str | None) -> bool:
        # dbt semantics: is_incremental() is True only when the model
        # is materialized 'incremental' AND the target already exists
        return materialized == "incremental" and kind is not None

    def _materialize(self, model: RenderedModel, target: str, kind: str | None) -> int:
        """Run one rendered model into ``target``, whose catalog kind
        was ``kind`` at render time; returns its row count."""
        df = self.spark.sql(model.sql)
        self._drop_conflicting(target, model.materialized, kind)
        if model.materialized == "view":
            self.spark.sql(f"CREATE OR REPLACE VIEW {target} AS {model.sql}")
            # nothing is written for a view, so counting is a query
            return self.spark.table(target).count()
        if self._incremental_run(model.materialized, kind):
            # delta-only: merge on unique_key when configured
            # (dbt's incremental+unique_key), plain append otherwise
            unique_key = model.config.get("unique_key")
            if unique_key:
                keys = (unique_key,) if isinstance(unique_key, str) else tuple(unique_key)
                return writers.merge_upsert(self.spark, df, target, keys).num_rows
            return writers.append(self.spark, df, target).num_rows
        return writers.full_replace(self.spark, df, target).num_rows

    def _preview(self, target: str) -> list[dict[str, Any]]:
        return [row.asDict() for row in self.spark.table(target).limit(5).collect()]
