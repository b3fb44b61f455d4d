"""Benchmark-side tracing: spans around calls into each layer.

Nothing here edits the package. :func:`install` replaces every public
function (and public method of a public class) of each layer module
with a wrapper, at every attribute in ``mozart_etl_spark.*`` that binds
it — so ``from ..io import table`` in a querybank module is wrapped too.
The wrapper keeps the original's ``__module__``/``__qualname__``, so a
wrapped function that gets pickled into a Python worker is pickled by
reference and the worker runs the unwrapped original.

Each span records name, layer, start, end, parent and operation id,
and carries its own Spark job group, so every job lands in the
innermost span that launched it. After each operation
:meth:`Tracer.harvest` reads the jobs of that operation's spans from
``statusTracker`` and their stage metrics from the JVM
``AppStatusStore`` (readable with the UI off). Streaming micro-batches
come from a ``StreamingQueryListener``. Spans stay in memory until
the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import sys
import threading
import time
from dataclasses import dataclass, field

#: layer -> package modules whose public callables it owns. The
#: ``querybank`` (query construction) and ``drain`` (Spark executing
#: the noop write) spans are opened by the benchmark itself.
LAYER_MODULES: dict[str, tuple[str, ...]] = {
    "session": ("mozart_etl_spark.session",),
    "io": ("mozart_etl_spark.io",),
    "operators.dedup": ("mozart_etl_spark.operators.dedup",),
    "operators.similarity": ("mozart_etl_spark.operators.similarity",),
    "operators.text": ("mozart_etl_spark.operators.text",),
    "operators.corpus": ("mozart_etl_spark.operators.corpus",),
    "streaming": (
        "mozart_etl_spark.streaming.events",
        "mozart_etl_spark.streaming.stateful",
        "mozart_etl_spark.streaming.sink",
    ),
    "sources": ("mozart_etl_spark.sources.reader",),
    "writers": ("mozart_etl_spark.writers",),
    "plans": (
        "mozart_etl_spark.plans.graph",
        "mozart_etl_spark.plans.render",
        "mozart_etl_spark.plans.runner",
    ),
    "pipeline": ("mozart_etl_spark.pipeline",),
    "cursor": ("mozart_etl_spark.cursor",),
}
LAYERS = ("session", "querybank", "io", "operators.dedup", "operators.similarity",
          "operators.text", "operators.corpus", "streaming", "drain", "sources",
          "writers", "plans", "pipeline", "cursor")

_WRAPPED = "__perfbench_wrapped__"


@dataclass
class Span:
    name: str
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    sid: int = 0
    stats: dict[str, float] = field(default_factory=dict)


STAGE_FIELDS = (
    "numTasks", "numFailedTasks", "executorRunTime", "executorCpuTime", "inputBytes",
    "outputBytes", "outputRecords", "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled",
)


class Tracer:
    """Span store for one traced run. Single client thread by design;
    spans opened on other threads (py4j callbacks) get their own stack."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._harvested = 0
        self._runs_harvested = 0
        self._lock = threading.Lock()
        self.stream_events: list[tuple[int, str, float]] = []  # (op, kind, seconds)
        self.stream_runs: list[tuple[int, str]] = []  # (op, runId)

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, layer: str) -> Span:
        st = self._stack()
        sid = next(self._ids)
        span = Span(name, layer, self.op, st[-1].sid if st else None, 0.0, sid=sid,
                    group=f"pb{sid}")
        self.sc.setJobGroup(span.group, name)
        with self._lock:
            self.spans.append(span)
        st.append(span)
        span.start = time.perf_counter()
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        st = self._stack()
        st.pop()
        if st:
            self.sc.setJobGroup(st[-1].group, st[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = self.begin(name, layer)
        try:
            yield span
        finally:
            self.end(span)

    def harvest(self) -> None:
        """Attach job and stage figures to every span closed since the
        last harvest (run outside the spans, so it costs no span time)."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        with self._lock:
            todo = self.spans[self._harvested:]
            self._harvested = len(self.spans)
            runs = self.stream_runs[self._runs_harvested:]
            self._runs_harvested = len(self.stream_runs)
        for span in todo:
            span.stats = _group_stats(st, store, span.group)
        for op, run_id in runs:
            jobs = _group_stats(st, store, run_id)["jobs"]
            with self._lock:
                self.stream_events.append((op, "jobs", jobs))

    def listen_streams(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with tracer._lock:
                    tracer.stream_runs.append((tracer.op, str(event.runId)))
                    tracer.stream_events.append((tracer.op, "drain", 1.0))

            def onQueryProgress(self, event):
                ms = dict(event.progress.durationMs).get("triggerExecution", 0)
                with tracer._lock:
                    tracer.stream_events.append((tracer.op, "batch", ms / 1000.0))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def close(self) -> None:
        """Stop listening; spans and events recorded so far stay."""
        self.spark.streams.removeListener(self._listener)


def _group_stats(st, store, group: str) -> dict[str, float]:
    out: dict[str, float] = {"jobs": 0}
    for job in st.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = st.getJobInfo(job)
        for stage in (info.stageIds if info is not None else ()):
            try:
                data = store.lastStageAttempt(stage)
            except Exception:  # noqa: BLE001 - stage evicted from the store
                out["missing_stages"] = out.get("missing_stages", 0) + 1
                continue
            for f in STAGE_FIELDS:
                out[f] = out.get(f, 0) + getattr(data, f)()
    return out


def _wrap(fn, name: str, layer: str, tracer: Tracer):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        span = tracer.begin(name, layer)
        try:
            return fn(*args, **kwargs)
        finally:
            tracer.end(span)

    setattr(wrapper, _WRAPPED, fn)
    return wrapper


def _public_callables(mod):
    """(owner, attribute, function, qualname) for each public function
    defined in ``mod`` and each public method of its public classes."""
    for attr, obj in list(vars(mod).items()):
        if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
            continue
        if inspect.isfunction(obj):
            yield mod, attr, obj, attr
        elif inspect.isclass(obj):
            for mattr, mobj in list(vars(obj).items()):
                if mattr.startswith("_"):
                    continue
                if isinstance(mobj, (classmethod, staticmethod)) or inspect.isfunction(mobj):
                    yield obj, mattr, mobj, f"{attr}.{mattr}"


class Installed:
    """The patches :func:`install` made, so they can be undone."""

    def __init__(self):
        self.patches: list[tuple[object, str, object]] = []

    def undo(self) -> None:
        for owner, attr, original in reversed(self.patches):
            setattr(owner, attr, original)
        self.patches.clear()


def install(tracer: Tracer) -> Installed:
    """Wrap every layer's public callables at every binding site in the
    loaded ``mozart_etl_spark`` modules."""
    done = Installed()
    replacements: dict[int, object] = {}
    for layer, mods in LAYER_MODULES.items():
        for modname in mods:
            mod = importlib.import_module(modname)
            for owner, attr, obj, qual in _public_callables(mod):
                name = f"{layer}:{qual}"
                if isinstance(obj, (classmethod, staticmethod)):
                    wrapped = type(obj)(_wrap(obj.__func__, name, layer, tracer))
                else:
                    wrapped = _wrap(obj, name, layer, tracer)
                    replacements[id(obj)] = wrapped
                done.patches.append((owner, attr, obj))
                setattr(owner, attr, wrapped)
    # rebind `from x import f` copies held by other package modules
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith("mozart_etl_spark"):
            continue
        for attr, obj in list(vars(mod).items()):
            new = replacements.get(id(obj))
            if new is not None and obj is not new:
                done.patches.append((mod, attr, obj))
                setattr(mod, attr, new)
    return done


#: per-layer metric -> unit, in the order they are printed
PER_LAYER_UNITS: dict[str, str] = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "querybank.build_s": "s",
    "querybank.build_jobs": "count",
    "querybank.build_executor_s": "s",
    "io.table_calls": "count",
    "io.table_s": "s",
    "io.table_jobs": "count",
    **{f"{m}.{k}": u for m in ("operators.dedup", "operators.similarity", "operators.text",
                               "operators.corpus")
       for k, u in (("calls", "count"), ("s", "s"), ("jobs", "count"))},
    "streaming.drains": "count",
    "streaming.batches": "count",
    "streaming.batch_s": "s",
    "streaming.s": "s",
    "streaming.jobs": "count",
    "drain.s": "s",
    "drain.jobs": "count",
    "drain.tasks": "count",
    "drain.failed_tasks": "count",
    "drain.executor_run_s": "s",
    "drain.executor_cpu_s": "s",
    "drain.shuffle_read_mb": "MB",
    "drain.shuffle_write_mb": "MB",
    "drain.spill_mb": "MB",
    "drain.input_mb": "MB",
    "sources.calls": "count",
    "sources.extract_s": "s",
    "writers.full_replace_s": "s",
    "writers.truncate_reload_s": "s",
    "writers.merge_upsert_s": "s",
    "writers.append_s": "s",
    "writers.jobs": "count",
    "writers.output_mb": "MB",
    "writers.rows_written_per_new_row": "ratio",
    "plans.render_s": "s",
    "plans.run_s": "s",
    "plans.models": "count",
    "plans.jobs": "count",
    "pipeline.ingest_s": "s",
    "pipeline.transform_s": "s",
    "cursor.calls": "count",
    "cursor.s": "s",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.overhead_ratio": "ratio",
}

_MB = 1024 * 1024


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its direct children cover."""
    out = {s.sid: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in out:
            out[s.parent] -= s.end - s.start
    return out


def layer_metrics(tracer: Tracer, n_passes: int, session_start_s: float, peak_rss_mb: float,
                  landed_rows: int, overhead: float) -> dict[str, tuple[float, str]]:
    """Per-layer figures over the traced passes, each per pass (the
    session figures are per run)."""
    spans = [s for s in tracer.spans if s.end > 0]
    by_id = {s.sid: s for s in spans}
    selfs = self_times(spans)
    children: dict[int, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def ancestors(s: Span):
        while s.parent is not None and s.parent in by_id:
            s = by_id[s.parent]
            yield s

    def inclusive(s: Span, key: str) -> float:
        return s.stats.get(key, 0) + sum(inclusive(c, key) for c in children.get(s.sid, ()))

    def outermost(layer: str, name: str | None = None) -> list[Span]:
        """Spans of ``layer`` (or of ``name``) not nested in another one."""
        if name is None:
            return [s for s in spans if s.layer == layer
                    and not any(a.layer == layer for a in ancestors(s))]
        return [s for s in spans if s.name == name and not any(a.name == name for a in ancestors(s))]

    def dur(ss: list[Span]) -> float:
        return sum(s.end - s.start for s in ss)

    def self_stat(layer: str, key: str) -> float:
        return sum(s.stats.get(key, 0) for s in spans if s.layer == layer)

    def incl_stat(ss: list[Span], key: str) -> float:
        return sum(inclusive(s, key) for s in ss)

    n = max(n_passes, 1)
    qb, dr = outermost("querybank"), outermost("drain")
    table = outermost("io", "io:table")
    ev = tracer.stream_events
    ingest_writes = [s for s in spans if s.layer == "writers"
                     and any(a.name == "pipeline:TenantPipeline.ingest" for a in ancestors(s))]
    m: dict[str, float] = {
        "querybank.build_s": dur(qb),
        "querybank.build_jobs": incl_stat(qb, "jobs"),
        "querybank.build_executor_s": incl_stat(qb, "executorRunTime") / 1000,
        "io.table_calls": len(table),
        "io.table_s": dur(table),
        "io.table_jobs": incl_stat(table, "jobs"),
        "streaming.drains": sum(1 for e in ev if e[1] == "drain"),
        "streaming.batches": sum(1 for e in ev if e[1] == "batch"),
        "streaming.batch_s": sum(e[2] for e in ev if e[1] == "batch"),
        "streaming.s": dur(outermost("streaming")),
        "streaming.jobs": sum(e[2] for e in ev if e[1] == "jobs"),
        "drain.s": dur(dr),
        "drain.jobs": incl_stat(dr, "jobs"),
        "drain.tasks": incl_stat(dr, "numTasks"),
        "drain.failed_tasks": incl_stat(dr, "numFailedTasks"),
        "drain.executor_run_s": incl_stat(dr, "executorRunTime") / 1000,
        "drain.executor_cpu_s": incl_stat(dr, "executorCpuTime") / 1e9,
        "drain.shuffle_read_mb": incl_stat(dr, "shuffleReadBytes") / _MB,
        "drain.shuffle_write_mb": incl_stat(dr, "shuffleWriteBytes") / _MB,
        "drain.spill_mb": incl_stat(dr, "diskBytesSpilled") / _MB,
        "drain.input_mb": incl_stat(dr, "inputBytes") / _MB,
        "sources.calls": len(outermost("sources", "sources:extract_table")),
        "sources.extract_s": dur(outermost("sources", "sources:extract_table")),
        "writers.full_replace_s": dur(outermost("writers", "writers:full_replace")),
        "writers.truncate_reload_s": dur(outermost("writers", "writers:truncate_reload")),
        "writers.merge_upsert_s": dur(outermost("writers", "writers:merge_upsert")),
        "writers.append_s": dur(outermost("writers", "writers:append")),
        "writers.jobs": self_stat("writers", "jobs"),
        "writers.output_mb": self_stat("writers", "outputBytes") / _MB,
        "plans.render_s": dur(outermost("plans", "plans:render_model")),
        "plans.run_s": dur(outermost("plans", "plans:ModelRunner.run")),
        "plans.models": sum(1 for s in spans if s.name == "plans:render_model"
                            and by_id.get(s.parent, s).name == "plans:ModelRunner.run"),
        "plans.jobs": self_stat("plans", "jobs"),
        "pipeline.ingest_s": dur(outermost("pipeline", "pipeline:TenantPipeline.ingest")),
        "pipeline.transform_s": dur(outermost("pipeline", "pipeline:TenantPipeline.transform")),
        "cursor.calls": len(outermost("cursor")),
        "cursor.s": dur(outermost("cursor")),
    }
    for mod in ("operators.dedup", "operators.similarity", "operators.text", "operators.corpus"):
        top = outermost(mod)
        m[f"{mod}.calls"] = len(top)
        m[f"{mod}.s"] = dur(top)
        m[f"{mod}.jobs"] = self_stat(mod, "jobs")
    for layer in LAYERS:
        m[f"{layer}.self_s"] = sum(selfs[s.sid] for s in spans if s.layer == layer)
    out = {k: (v / n, PER_LAYER_UNITS[k]) for k, v in m.items()}
    written = sum(s.stats.get("outputRecords", 0) for s in ingest_writes)
    out["writers.rows_written_per_new_row"] = (written / landed_rows if landed_rows else 0.0, "ratio")
    out["session.start_s"] = (session_start_s, "s")
    out["session.peak_rss_mb"] = (peak_rss_mb, "MB")
    out["trace.overhead_ratio"] = (overhead, "ratio")
    return {k: out[k] for k in PER_LAYER_UNITS}


def check_nesting(spans: list[Span]) -> list[str]:
    """Problems with span structure: a child outside its parent's
    interval, a negative self time, or a dangling parent."""
    by_id = {s.sid: s for s in spans}
    bad = []
    for s in spans:
        if s.end < s.start:
            bad.append(f"{s.name}: ends before it starts")
        if s.parent is not None:
            p = by_id.get(s.parent)
            if p is None:
                bad.append(f"{s.name}: unknown parent {s.parent}")
            elif not (p.start <= s.start and s.end <= p.end) or p.op != s.op:
                bad.append(f"{s.name}: not inside parent {p.name}")
    bad += [f"span {sid}: negative self time" for sid, t in self_times(spans).items() if t < 0]
    return bad


def wrapped_bindings() -> list[str]:
    """Every attribute in the loaded package that holds a benchmark
    wrapper — empty unless tracing is installed."""
    found = []
    for modname, mod in list(sys.modules.items()):
        if mod is None or not modname.startswith("mozart_etl_spark"):
            continue
        for attr, obj in list(vars(mod).items()):
            if hasattr(obj, _WRAPPED):
                found.append(f"{modname}.{attr}")
            elif inspect.isclass(obj) and obj.__module__ == modname:
                for mattr, mobj in vars(obj).items():
                    fn = getattr(mobj, "__func__", mobj)
                    if hasattr(fn, _WRAPPED):
                        found.append(f"{modname}.{attr}.{mattr}")
    return found
