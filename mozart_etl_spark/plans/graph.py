"""Model dependency DAG with topological execution order.

Replaces the dbt manifest + Dagster asset graph of the reference
(``lib/dbt/translator.py:36-47`` derives dependencies from
``source()``/``ref()``; ``_tenant_factory.py:118-130`` scans the model
directory). Here the graph comes straight from the render pass.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass

from .render import RenderedModel, render_model


@dataclass
class ModelGraph:
    models: dict[str, RenderedModel]
    order: tuple[str, ...]  # topological

    @classmethod
    def from_dir(cls, models_dir: str, variables: dict | None = None, frozen_clock: str | None = None) -> "ModelGraph":
        """Scan ``models_dir`` for ``*.sql``, render (dependency pass),
        topo-sort. Raises on cycles and on refs to unknown models.

        The dependency pass renders each model under BOTH
        ``is_incremental()`` branches and unions the discovered
        refs/sources — dbt parses all template branches the same way.
        A single is_incremental=False pass would miss a ``ref()`` that
        only appears inside ``{% if is_incremental() %}``, dropping
        the DAG edge and letting the downstream model run before its
        upstream on incremental runs."""
        models: dict[str, RenderedModel] = {}
        for path in sorted(glob.glob(os.path.join(models_dir, "*.sql"))):
            m = render_model(path, variables=variables, frozen_clock=frozen_clock)
            m_inc = render_model(
                path, variables=variables, frozen_clock=frozen_clock, is_incremental=True
            )
            extra_refs = tuple(r for r in m_inc.refs if r not in m.refs)
            extra_sources = tuple(s for s in m_inc.sources if s not in m.sources)
            if extra_refs or extra_sources:
                m = RenderedModel(
                    name=m.name,
                    sql=m.sql,
                    config=m.config,
                    sources=m.sources + extra_sources,
                    refs=m.refs + extra_refs,
                )
            models[m.name] = m
        return cls(models=models, order=cls._toposort(models))

    @staticmethod
    def _toposort(models: dict[str, RenderedModel]) -> tuple[str, ...]:
        for m in models.values():
            for dep in m.refs:
                if dep not in models:
                    raise ValueError(f"model {m.name!r} refs unknown model {dep!r}")
        # Kahn's algorithm; ties broken by name for a deterministic order
        indeg = {name: len([d for d in m.refs if d in models]) for name, m in models.items()}
        downstream: dict[str, list[str]] = {name: [] for name in models}
        for name, m in models.items():
            for dep in m.refs:
                downstream[dep].append(name)
        ready = sorted(n for n, d in indeg.items() if d == 0)
        order: list[str] = []
        while ready:
            n = ready.pop(0)
            order.append(n)
            for child in downstream[n]:
                indeg[child] -= 1
                if indeg[child] == 0:
                    ready.append(child)
            ready.sort()
        if len(order) != len(models):
            cyclic = sorted(set(models) - set(order))
            raise ValueError(f"model dependency cycle involving: {cyclic}")
        return tuple(order)
