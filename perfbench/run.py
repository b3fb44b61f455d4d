#!/usr/bin/env python3
"""The repo benchmark: end-to-end metrics per workload, per-layer
metrics from a separate traced run.

    python3 perfbench/run.py --workload bank_sf0.01 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One run:

1. set-up (``setup_s``): imports, a fresh Spark session, the seeded
   inputs, and an untimed warm-up that also checks every operation's
   row count and value hash against the goldens;
2. timed passes over the workload's operations, in a seeded order,
   until ``--seconds`` have passed (whole passes only); each
   operation checks its row count. The timings come from each
   operation's best time in the run (``best_per_op``);
3. untimed end checks (``tenant_etl``: marts against DuckDB), clean-up.

With ``--trace 1`` the timed passes run with the package wrapped
(``spans.py``) and report per-layer figures, each per timed pass; one
more untraced pass gives the tracing overhead.

The last stdout line is the result JSON; the line before it records the
load shape. Everything the run writes stays in ``.perfbench_run/<pid>``
under the checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("bank_sf0.01", "tenant_etl")
#: scale the tenant sources are derived from
TENANT_SF = 0.01


def _log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> None:
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _start_spark(work: str):
    from mozart_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def remove_work(work: str) -> None:
    """Remove a run's directory, and ``.perfbench_run`` once empty."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's directory is still there


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class QueryOps:
    """Adapter for the query workloads."""

    def __init__(self, name: str, scale: float | None, work: str):
        import workloads as W

        self.wl = W.QUERY_WORKLOADS[name]
        self.scale = scale if scale is not None else self.wl.scale
        self.work = work
        self.goldens_all = W.load_goldens()

    def prepare(self, spark, seed: int) -> None:
        import datagen
        import workloads as W

        W.check_registry(self.wl.ops, self.goldens_all["registry"])
        self.data = os.path.join(self.work, "data")
        datagen.generate(self.data, self.scale, W.DATA_SEED)
        stored = self.goldens_all["workloads"].get(self.wl.name)
        pinned = stored is not None and stored["scale"] == self.scale
        self.runner = W.QueryRunner(spark, self.wl, self.data, stored["ops"] if pinned else None)
        self.checked = pinned
        self.checks = 2 * len(self.wl.ops)  # the warm-up runs every operation twice

    def warmup(self, rng: random.Random) -> list[str]:
        """A value-checking pass, then one pass the way timed passes
        run (the first warm pass is still about half again as slow)."""
        errors = []
        for name in rng.sample(self.wl.ops, len(self.wl.ops)):
            try:
                err = self.runner.check_values(name)
            except Exception as e:  # noqa: BLE001 - a failing query is a result
                err = f"{name}: {type(e).__name__}: {str(e)[:300]}"
            if err:
                errors.append(err)
        _, _, run_errors, _ = run_passes(self, 0, rng, max_passes=1)
        return errors + run_errors

    def set_tracer(self, tracer) -> None:
        self.runner.tracer = tracer

    def pass_ops(self, rng: random.Random) -> list[str] | None:
        return rng.sample(self.wl.ops, len(self.wl.ops))

    def run_op(self, name: str) -> tuple[int, str | None]:
        return self.runner.run(name)

    def finish(self, spark) -> list[str]:
        return []


class TenantOps:
    """Adapter for ``tenant_etl``: one operation is one tenant cycle."""

    def __init__(self, scale: float | None, work: str):
        self.scale = scale if scale is not None else TENANT_SF
        self.work = work
        self.namespace = f"pb{os.getpid()}"
        self.checked = True

    def prepare(self, spark, seed: int) -> None:
        import tenant as T
        from mozart_etl_spark.cursor import CursorStore

        self.T = T
        self.spark = spark
        self.source = T.build_source(os.path.join(self.work, "src"), self.scale, seed)
        self.cursors = CursorStore(os.path.join(self.work, "cursors.json"))
        self.cycle = {t: -1 for t in self.source.tenants}
        # the warm-up cycles and the final mart check of every tenant
        self.checks = 2 * len(self.source.tenants) + 1

    def _cycle(self, tenant: str) -> tuple[int, str | None]:
        from mozart_etl_spark.pipeline import TenantPipeline

        k = self.cycle[tenant] + 1
        spec = self.T.tenant_spec(self.source, self.namespace, tenant, k)
        out = TenantPipeline(spec=spec, cursor_store=self.cursors,
                             frozen_clock="2024-01-01 00:00:00").run(self.spark)
        self.cycle[tenant] = k
        want = self.T.expected_counts(self.source, tenant, k)
        got = {r.table: r.num_rows for r in out["ingest"]}
        got.update({m.model: m.num_rows for m in out["models"]})
        if got != want:
            return 0, f"{tenant} cycle {k}: counts {got} != expected {want}"
        return self.source.landed_rows(tenant, k), None

    def warmup(self, rng: random.Random) -> list[str]:
        """Cycle 0 (the bulk truncate-reload) of every tenant, then
        cycle 1 of the smallest, so the merge path is warm too."""
        errors = []
        order = rng.sample(self.source.tenants, len(self.source.tenants))
        for t in order + [self.source.tenants[-1]]:
            try:
                _, err = self._cycle(t)
            except Exception as e:  # noqa: BLE001
                err = f"{t} cycle {self.cycle[t] + 1}: {type(e).__name__}: {str(e)[:300]}"
            if err:
                errors.append(err)
        return errors

    def set_tracer(self, tracer) -> None:
        pass  # every tenant-side span comes from the package wrappers

    def pass_ops(self, rng: random.Random) -> list[str] | None:
        if max(self.cycle.values()) + 1 >= self.T.N_CYCLES:
            return None
        return rng.sample(self.source.tenants, len(self.source.tenants))

    def run_op(self, tenant: str) -> tuple[int, str | None]:
        return self._cycle(tenant)

    def finish(self, spark) -> list[str]:
        errors = []
        for t, k in self.cycle.items():
            if k < 0:
                continue
            try:
                want = self.T.duckdb_marts(self.source, t, k)
                got = self.T.spark_marts(spark, self.namespace, t)
            except Exception as e:  # noqa: BLE001
                errors.append(f"{t}: mart check failed: {type(e).__name__}: {str(e)[:300]}")
                continue
            if got != want:
                errors.append(f"{t} cycle {k}: marts {got} != DuckDB {want}")
        for t in self.source.tenants:
            for ns in (f"{self.namespace}_{t}_raw", f"{self.namespace}_{t}"):
                spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")
        return errors


def run_passes(ops, seconds: float, rng: random.Random, tracer=None, max_passes: int | None = None):
    """Whole passes in seeded order until ``seconds`` have passed.
    Returns (seconds per pass, (key, seconds, rows) per operation,
    errors, rows per pass)."""
    passes, op_s, errors, pass_rows = [], [], [], []
    start = time.perf_counter()
    while max_passes is None or len(passes) < max_passes:
        keys = ops.pass_ops(rng)
        if keys is None:
            break
        t_pass = time.perf_counter()
        untimed = 0.0
        rows_in_pass = 0
        for key in keys:
            if tracer is not None:
                tracer.op += 1
                root = tracer.begin(f"op:{key}", "op")
            t0 = time.perf_counter()
            try:
                rows, err = ops.run_op(key)
            except Exception as e:  # noqa: BLE001 - a failing operation is a result
                rows, err = 0, f"{key}: {type(e).__name__}: {str(e)[:300]}"
            op_s.append((key, time.perf_counter() - t0, rows))
            if tracer is not None:
                tracer.end(root)
                t_h = time.perf_counter()
                tracer.harvest()
                untimed += time.perf_counter() - t_h
            rows_in_pass += rows
            if err:
                errors.append(err)
                _log(f"FAIL {err}")
        passes.append(time.perf_counter() - t_pass - untimed)
        pass_rows.append(rows_in_pass)
        if time.perf_counter() - start >= seconds:
            break
    return passes, op_s, errors, pass_rows


def _p90(xs: list[float]) -> float:
    """Nearest-rank p90: an observed value, never an interpolation."""
    return sorted(xs)[math.ceil(0.9 * len(xs)) - 1]


def best_per_op(op_s: list[tuple[str, float, int]]) -> dict[str, tuple[float, int]]:
    """Each operation key's fastest (seconds, rows) in the run. Load
    from other guests of the host only ever adds time, often in bursts
    that miss some repetitions, so the best of several repeats from run
    to run better than any one of them."""
    best: dict[str, tuple[float, int]] = {}
    for key, s, rows in op_s:
        if key not in best or s < best[key][0]:
            best[key] = (s, rows)
    return best


def _load_shape(args, scale, spark, calib) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "scale": scale,
        "seconds": args.seconds,
        "trace": args.trace,
        "spark_version": spark.version,
        "cores": _cores(),
        "master": spark.sparkContext.master,
        "clients": 1,
        "driver_processes": 1,
        "python_threads": threading.active_count(),
        **calib,
    }


def run(args, work: str) -> tuple[dict, dict]:
    rng = random.Random(args.seed)
    t_setup = time.perf_counter()
    import pyspark  # noqa: F401  (import time belongs to set-up)

    t0 = time.perf_counter()
    spark = _start_spark(work)
    session_start = time.perf_counter() - t0
    try:
        if args.workload == "tenant_etl":
            ops = TenantOps(args.scale, work)
        else:
            ops = QueryOps(args.workload, args.scale, work)
        ops.prepare(spark, args.seed)
        errors = ops.warmup(rng)
        setup_s = time.perf_counter() - t_setup
        _log(f"setup {setup_s:.2f}s (session {session_start:.2f}s), warm-up errors: {len(errors)}")

        steal0, total0 = _cpu_ticks()
        if args.trace:
            import spans as TR

            tracer = TR.Tracer(spark)
            tracer.listen_streams()
            installed = TR.install(tracer)
            ops.set_tracer(tracer)
            try:
                passes, op_s, run_err, pass_rows = run_passes(ops, args.seconds, rng, tracer)
            finally:
                installed.undo()
                tracer.close()
                ops.set_tracer(None)
            # the untraced twin of one timed pass, for the overhead ratio
            base, base_ops, base_err, _ = run_passes(ops, 0, rng, max_passes=1)
            errors += run_err + base_err + TR.check_nesting(tracer.spans)
            n_ops = len(op_s) + len(base_ops)
        else:
            passes, op_s, run_err, pass_rows = run_passes(ops, args.seconds, rng)
            errors += run_err
            n_ops = len(op_s)
            import spans as TR

            errors += [f"tracing off, yet wrapped: {w}" for w in TR.wrapped_bindings()]
        steal1, total1 = _cpu_ticks()
        # CPU time the hypervisor gave to other guests while we measured
        steal_pct = 100 * (steal1 - steal0) / max(1, total1 - total0)
        errors += ops.finish(spark)
        for e in errors:
            _log(f"ERROR {e}")
        attempted = ops.checks + n_ops
        calib = {}
        if args.trace and args.scale is None:
            # bench.py's CPU host-epoch reference, ~7 s, paid by the traced
            # run at the workload's own scale only; its shuffle reference
            # (~55 s) would cost the untraced runs their repetitions
            import bench

            calib = {"calib_sec": bench.calibrate(spark)}
        best = best_per_op(op_s)
        times = sorted(t for t, _ in best.values())
        # what the end-to-end timings rest on: operations and the
        # fewest repetitions any of them had
        samples = {"op_samples": len(op_s), "op_keys": len(best),
                   "op_repeats_min": min(Counter(k for k, _, _ in op_s).values())}
        shape = _load_shape(args, ops.scale, spark,
                            {"cpu_steal_pct": steal_pct, **samples, **calib})
        if args.trace:
            rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)) / 1024
            metrics = TR.layer_metrics(
                tracer,
                n_passes=len(passes),
                session_start_s=session_start,
                peak_rss_mb=rss_mb,
                landed_rows=sum(pass_rows) if args.workload == "tenant_etl" else 0,
                overhead=min(passes) / base[0],
            )
            missing = sum(sp.stats.get("missing_stages", 0) for sp in tracer.spans)
            if missing:
                _log(f"{missing} stages had left the status store; stage figures undercount")
        else:
            pass_s = sum(times)
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (pass_s, "s"),
                "op_p50_s": (statistics.median(times), "s"),
                "op_p90_s": (_p90(times), "s"),
                "rows_per_s": (sum(r for _, r in best.values()) / pass_s, "rows/s"),
                "ops_ok_ratio": (max(0, attempted - len(errors)) / attempted, "ratio"),
            }
        _log(f"passes {[round(p, 3) for p in passes]}, ops {len(op_s)}, values checked: {ops.checked}")
        _log("best " + json.dumps({k: round(t, 4) for k, (t, _) in sorted(best.items())}))
    finally:
        _stop_spark(spark)
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return shape, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's scale; stored goldens are then not checked, "
                         "nor does a traced run calibrate")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "mozart_etl_spark", "__init__.py")):
        print("perfbench: no mozart_etl_spark package next to the benchmark; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    _prepare_env(work)
    sys.path[:0] = [ROOT, HERE]
    try:
        shape, result = run(args, work)
    finally:
        remove_work(work)
    print(json.dumps({"load_shape": shape}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
