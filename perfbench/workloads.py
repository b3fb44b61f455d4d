"""The benchmark's workloads and their pinned operation lists.

Query workloads run registered querybank queries: an operation is one
query build plus a ``noop`` drain with an observed row count, the same
timing contract as ``bench.py``. The tenant workload runs
:class:`~mozart_etl_spark.pipeline.TenantPipeline` cycles (see
``tenant.py``).

Operation lists are pinned by name here, so a re-tag or a new query
does not change what a workload measures: a pinned query missing from
``querybank.REGISTRY`` stops the benchmark, and a registered query
that is not in the known list is reported on stderr, never added.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import sys
from contextlib import nullcontext
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
GOLDENS = os.path.join(HERE, "goldens.json")

#: data seed of the query workloads' tables: fixed, so stored goldens
#: apply to every run; ``--seed`` shapes the operation order instead
DATA_SEED = 20_241_016


@dataclass(frozen=True)
class QueryWorkload:
    name: str
    scale: float
    ops: tuple[str, ...]


#: At least one query per querybank module the bank's layers need
#: (relational, relational_adv, llmops, streaming_queries, corpus), so
#: every operator module and the streaming drain run, plus the simhash
#: dedup fold and the brute-force cosine KNN join. The pass is kept near
#: 4 s warm so a run repeats every query four times or more: a single
#: repetition swings by a quarter with the host's load. Like the full
#: bank at this scale, a warm pass spends more time building than
#: draining.
BANK = QueryWorkload(
    name="bank_sf0.01",
    scale=0.01,
    ops=(
        "select_project_filter",
        "customers_without_recent_orders",
        "asof_click_view",
        "events_funnel",
        "text_token_stats",
        "streaming_hourly_counts",
        "corpus_pii_scrub",
        "dedup_simhash",
        "knn_bruteforce_cosine",
    ),
)

QUERY_WORKLOADS = {w.name: w for w in (BANK,)}


def _canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, (float, decimal.Decimal)):
        return "NaN" if math.isnan(v) else f"{v:.6f}".rstrip("0").rstrip(".")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    return str(v)


def value_hash(rows: list[dict]) -> str:
    """Order-insensitive hash: columns by name, floats to 6 decimals,
    rows sorted."""
    if not rows:
        return hashlib.sha256(b"").hexdigest()[:16]
    cols = sorted(rows[0])
    canon = sorted("\x1f".join(_canon(r[c]) for c in cols) for r in rows)
    return hashlib.sha256("\x1e".join(canon).encode()).hexdigest()[:16]


def load_goldens() -> dict:
    with open(GOLDENS) as f:
        return json.load(f)


def check_registry(ops: tuple[str, ...], known: list[str]) -> None:
    """Fail loudly on a pinned query that is gone; report new ones."""
    from mozart_etl_spark import querybank

    querybank._ensure_loaded()
    missing = [n for n in ops if n not in querybank.REGISTRY]
    if missing:
        raise SystemExit(f"perfbench: pinned queries missing from querybank.REGISTRY: {missing}")
    new = sorted(set(querybank.REGISTRY) - set(known))
    if new:
        print(f"# perfbench: registered queries not in any workload list (not added): {new}",
              file=sys.stderr)


class QueryRunner:
    """Runs one query workload's operations against a session."""

    def __init__(self, spark, wl: QueryWorkload, data_dir: str, goldens: dict | None):
        from mozart_etl_spark import querybank

        self.spark = spark
        self.wl = wl
        self.data_dir = data_dir
        self.fns = {n: querybank.REGISTRY[n].fn for n in wl.ops}
        self.goldens = goldens  # None: no stored goldens for this scale
        self.expected_rows: dict[str, int] = {}
        self.tracer = None  # a spans.Tracer during a traced run

    def _span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def check_values(self, name: str) -> str | None:
        """Untimed warm-up of one query: build, collect, compare row
        count and value hash with the goldens. Returns an error or None."""
        rows = [r.asDict(recursive=True) for r in self.fns[name](self.spark, self.data_dir).collect()]
        self.expected_rows[name] = len(rows)
        if self.goldens is None:
            return None
        want = self.goldens[name]
        got = {"rows": len(rows), "hash": value_hash(rows)}
        if got != want:
            return f"{name}: expected {want}, got {got}"
        return None

    def run(self, name: str) -> tuple[int, str | None]:
        """One timed operation: build, then drain through ``noop`` with
        an observed row count. Returns (rows, error or None)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        with self._span(f"querybank:{name}", "querybank"):
            df = self.fns[name](self.spark, self.data_dir)
        with self._span(f"drain:{name}", "drain"):
            obs = Observation()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
                "overwrite"
            ).save()
            rows = int(obs.get["rows"])
        want = self.expected_rows.get(name)
        if want is not None and rows != want:
            return rows, f"{name}: observed {rows} rows, expected {want}"
        return rows, None
