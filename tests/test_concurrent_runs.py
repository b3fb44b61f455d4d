"""Concurrent tenant runs: tables load as parallel Spark jobs and models
run from an eager ready-set scheduler. These tests pin the contract the
``pipeline.py`` and ``plans/runner.py`` docstrings state: config errors
before any load, first failure in spec/topological order, nothing
downstream of a failed model, thread-safe cursors, per-call merge views
and job-group inheritance in worker threads."""

from __future__ import annotations

import sys
import threading
import uuid

import pytest

from mozart_etl_spark import writers
from mozart_etl_spark.config import TenantSpec
from mozart_etl_spark.cursor import CursorStore
from mozart_etl_spark.pipeline import TenantPipeline
from mozart_etl_spark.plans.runner import ModelRunner


def _spec(sf_dir: str, tables, models_dir: str = "") -> TenantSpec:
    return TenantSpec.from_dict(
        {
            "tenant_id": f"t{uuid.uuid4().hex[:8]}",
            "source": {"type": "parquet", "path": sf_dir},
            "tables": tables,
            "models_dir": models_dir,
        }
    )


@pytest.mark.parametrize(
    "bad, match",
    [
        ({"name": "orders", "tenant_filter": "o_orderstatus"}, "tenant_filter"),
        (
            {"name": "orders", "columns": ["o_custkey"], "mode": "incremental",
             "incremental_column": "o_orderkey"},
            "incremental_column",
        ),
    ],
    ids=["tenant_filter_without_param", "projection_drops_cursor"],
)
def test_table_specs_validated_before_any_load(spark, sf_dir, bad, match):
    """A good table first and a bad one second: the config error is
    raised before the good table's load starts."""
    spec = _spec(sf_dir, [{"name": "customer"}, bad])
    pipe = TenantPipeline(spec=spec)
    with pytest.raises(ValueError, match=match):
        pipe.ingest(spark)
    assert not spark.catalog.tableExists(f"{pipe.raw_ns}.customer")


def test_cursor_store_concurrent_sets_keep_every_key(tmp_path):
    """N threads, each with its own store instance on one file, set a
    distinct key at once: no read-modify-write cycle loses another's."""
    path = str(tmp_path / "cursors.json")
    n = 16  # more threads than cores
    start = threading.Barrier(n, timeout=60)

    def set_one(i: int) -> None:
        store = CursorStore(path)
        start.wait()
        store.set("tenant", f"table{i}", i)

    threads = [threading.Thread(target=set_one, args=(i,)) for i in range(n)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    store = CursorStore(path)
    assert {i: store.get("tenant", f"table{i}") for i in range(n)} == {i: i for i in range(n)}


@pytest.mark.filterwarnings("ignore:cannot list parquet path")
def test_ingest_raises_first_failure_in_spec_order(spark, sf_dir, tmp_path):
    """Two tables fail (their source is missing) between two that load:
    the first failure in spec order is raised once every load has
    ended, and only the tables that landed advanced their cursors."""
    inc = {"mode": "incremental"}
    spec = _spec(sf_dir, [
        {"name": "customer", "incremental_column": "c_custkey", **inc},
        {"name": "missing_a", "incremental_column": "id", **inc},
        {"name": "orders", "incremental_column": "o_orderkey", **inc},
        {"name": "missing_b", "incremental_column": "id", **inc},
    ])
    store = CursorStore(str(tmp_path / "cursors.json"))
    pipe = TenantPipeline(spec=spec, cursor_store=store)
    with pytest.raises(Exception, match="missing_a") as err:
        pipe.ingest(spark)
    assert "missing_b" not in str(err.value)
    tid = spec.tenant_id
    assert store.get(tid, "customer") is not None
    assert store.get(tid, "orders") is not None
    assert store.get(tid, "missing_a") is None and store.get(tid, "missing_b") is None
    for t, col in (("customer", "c_custkey"), ("orders", "o_orderkey")):
        landed = spark.table(f"{pipe.raw_ns}.{t}").agg({col: "max"}).collect()[0][0]
        assert store.get(tid, t) == landed


def test_model_failure_waits_for_in_flight_and_skips_downstream(spark, tmp_path):
    """``b`` refs ``a``; ``a`` fails while its independent sibling ``c``
    runs. The runner raises ``a``'s error only after ``c`` has finished,
    and ``b`` never runs, even though an older ``a`` table exists."""
    models = tmp_path / "models"
    models.mkdir()
    (models / "a.sql").write_text("SELECT * FROM {{ source('raw', 'no_such_table') }}")
    (models / "b.sql").write_text("SELECT * FROM {{ ref('a') }}")
    # slow enough that an early raise would return before c has landed
    (models / "c.sql").write_text(
        "SELECT id, java_method('java.lang.Thread', 'sleep', CAST(1500 AS BIGINT)) AS slept "
        "FROM range(1)"
    )
    ns = f"m{uuid.uuid4().hex[:8]}"
    # a stale ``a`` from an earlier run: ``b`` could run if it started
    writers.full_replace(spark, spark.range(3), f"{ns}.a")
    runner = ModelRunner(spark, str(models), f"{ns}_raw", ns)
    with pytest.raises(Exception, match="no_such_table"):
        runner.run()
    assert spark.catalog.tableExists(f"{ns}.c")
    assert spark.table(f"{ns}.c").count() == 1
    assert not spark.catalog.tableExists(f"{ns}.b")


def test_model_results_in_topological_order(spark, tmp_path):
    """Whatever order the models finish in, results come back in the
    graph's topological order, each with its own row count."""
    models = tmp_path / "models"
    models.mkdir()
    (models / "root.sql").write_text("SELECT id FROM range(10)")
    (models / "slow.sql").write_text(
        "SELECT id, java_method('java.lang.Thread', 'sleep', CAST(500 AS BIGINT)) AS slept "
        "FROM {{ ref('root') }} WHERE id < 3"
    )
    (models / "fast.sql").write_text("SELECT id FROM {{ ref('root') }} WHERE id < 5")
    (models / "last.sql").write_text(
        "SELECT s.id FROM {{ ref('slow') }} s JOIN {{ ref('fast') }} f ON s.id = f.id"
    )
    ns = f"m{uuid.uuid4().hex[:8]}"
    out = ModelRunner(spark, str(models), f"{ns}_raw", ns).run()
    assert [(r.model, r.num_rows) for r in out] == [
        ("root", 10), ("fast", 5), ("slow", 3), ("last", 3)
    ]
    assert all(len(r.preview) == min(5, r.num_rows) for r in out)


def test_tenant_jobs_stay_in_callers_group(spark, spark_jobs, sf_dir, tmp_path):
    """A whole tenant run under one job group: every table load and
    table model runs at least one job in it, and no job escapes to the
    no-group bucket from a worker thread."""
    models = tmp_path / "models"
    models.mkdir()
    (models / "stg_orders.sql").write_text("SELECT * FROM {{ source('raw', 'orders') }}")
    (models / "mart_customer.sql").write_text(
        "SELECT c.c_custkey, count(o.o_orderkey) AS n_orders "
        "FROM {{ source('raw', 'customer') }} c "
        "LEFT JOIN {{ ref('stg_orders') }} o ON o.o_custkey = c.c_custkey "
        "GROUP BY c.c_custkey"
    )
    spec = _spec(
        sf_dir,
        [
            {"name": "customer"},
            {"name": "orders", "mode": "incremental", "incremental_column": "o_orderkey"},
            {"name": "nation"},
        ],
        models_dir=str(models),
    )
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = set(sc.statusTracker().getJobIdsForGroup(None))
    store = CursorStore(str(tmp_path / "cursors.json"))
    out, jobs = spark_jobs(lambda: TenantPipeline(spec=spec, cursor_store=store).run(spark))
    after = set(sc.statusTracker().getJobIdsForGroup(None))
    assert [r.table for r in out["ingest"]] == ["customer", "orders", "nation"]
    assert [r.model for r in out["models"]] == ["stg_orders", "mart_customer"]
    assert jobs >= len(out["ingest"]) + len(out["models"])
    assert after - before == set()


def test_native_merge_uses_a_view_per_call(spark, monkeypatch):
    """The native ``MERGE INTO`` path registers its source under a name
    of its own per call, and drops it even when the merge fails (the
    parquet session catalog cannot MERGE, so every call here fails)."""
    target = f"m{uuid.uuid4().hex[:8]}.merge_target"
    writers.full_replace(spark, spark.range(3), target)
    monkeypatch.setattr(writers, "_MERGE_NATIVE", ("parquet",))
    names = []
    register = type(spark.range(1)).createOrReplaceTempView

    def spy(df, name):
        names.append(name)
        return register(df, name)

    monkeypatch.setattr(type(spark.range(1)), "createOrReplaceTempView", spy)
    for _ in range(2):
        with pytest.raises(Exception):
            writers.merge_upsert(spark, spark.range(2), target, ("id",))
    assert len(names) == 2 and names[0] != names[1]
    left = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert not left & set(names)
