"""Self-test of the benchmark at sf0.001 (about three minutes).

    python3 -m pytest perfbench/test_perfbench.py -q

Runs every workload for one tiny pass, untraced and traced, and checks
that each metric ``BENCHMARK.json`` names is printed with its unit,
that the traced run's spans nest with no negative self time (the run
reports any nesting problem as an error), and that the untraced path
installs no wrappers.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", str(trace), "--scale", "0.001"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    assert "load_shape" in json.loads(lines[-2])
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, p.stderr[-3000:]
    return out["metrics"]


def _assert_named(metrics: dict, spec: list[dict]) -> None:
    assert list(metrics) == [m["name"] for m in spec]
    for m in spec:
        got = metrics[m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    metrics = _run(workload, 0)
    _assert_named(metrics, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in metrics.values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_layer_metric(workload):
    metrics = _run(workload, 1)
    _assert_named(metrics, SPEC["per_layer"])
    selfs = {k: v["value"] for k, v in metrics.items() if k.endswith(".self_s")}
    assert len(selfs) == len(spans.LAYERS)
    assert all(v >= 0 for v in selfs.values()), selfs
    assert metrics["trace.overhead_ratio"]["value"] > 0


class _FakeTracer:
    def __init__(self):
        self.spans = []
        self._stack = []
        self.op = 0

    def begin(self, name, layer):
        span = spans.Span(name, layer, self.op, self._stack[-1].sid if self._stack else None,
                          len(self.spans), sid=len(self.spans) + 1)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span):
        span.end = span.start + 1
        self._stack.pop()


def test_install_wraps_every_binding_and_undo_restores_them():
    from mozart_etl_spark import io, querybank
    from mozart_etl_spark.querybank import relational

    querybank._ensure_loaded()
    original = io.table
    assert spans.wrapped_bindings() == []
    installed = spans.install(_FakeTracer())
    try:
        assert relational.table is io.table is not original
        assert "mozart_etl_spark.querybank.relational.table" in spans.wrapped_bindings()
    finally:
        installed.undo()
    assert io.table is original and relational.table is original
    assert spans.wrapped_bindings() == []


def test_self_times_subtract_children():
    a = spans.Span("a", "x", 1, None, 0.0, 10.0, sid=1)
    b = spans.Span("b", "y", 1, 1, 1.0, 4.0, sid=2)
    c = spans.Span("c", "y", 1, 1, 5.0, 6.0, sid=3)
    assert spans.self_times([a, b, c]) == {1: 6.0, 2: 3.0, 3: 1.0}
    assert spans.check_nesting([a, b, c]) == []
    bad = spans.Span("d", "y", 1, 1, 9.0, 11.0, sid=4)
    assert spans.check_nesting([a, bad])


def test_layer_modules_exist():
    import importlib

    for mods in spans.LAYER_MODULES.values():
        for m in mods:
            assert isinstance(importlib.import_module(m), types.ModuleType)
