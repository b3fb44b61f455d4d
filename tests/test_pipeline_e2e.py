"""End-to-end tenant pipeline tests (SURVEY.md §5 item 2): parquet
source standing in for the RDB → raw layer → staging → mart, plus the
incremental cursor/merge path. Inputs are the driver's sf0.001 tables
(`customer` plays cfg_item_master's role: it has an equality-filterable
segment column and a stable PK)."""

from __future__ import annotations

import sys
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from mozart_etl_spark import writers
from mozart_etl_spark.config import TenantSpec
from mozart_etl_spark.cursor import CursorStore
from mozart_etl_spark.pipeline import TenantPipeline

SF = "/root/testdata/sf0.001"

STG = """\
{{ config(materialized='table') }}
SELECT * FROM {{ source('raw', 'customer') }}
{% if var('min_acctbal', '') %}
WHERE c_acctbal >= {{ var('min_acctbal') }}
{% endif %}
"""

MART = """\
{{ config(materialized='table', alias='mart_customer') }}
SELECT CAST(c_custkey AS VARCHAR)              AS customer_id,
       COALESCE(c_name, 'UNKNOWN')             AS customer_name,
       c_mktsegment || '_SEG'                  AS segment_tag,
       CURRENT_TIMESTAMP                       AS created_at
FROM {{ ref('stg_customer') }}
"""


def _tenant(tmp_path, tables, params=None) -> TenantSpec:
    models = tmp_path / "models"
    models.mkdir(exist_ok=True)
    (models / "stg_customer.sql").write_text(STG)
    (models / "mart_customer.sql").write_text(MART)
    return TenantSpec.from_dict(
        {
            "tenant_id": f"t{uuid.uuid4().hex[:8]}",
            "source": {"type": "parquet", "path": SF},
            "params": params or {},
            "tables": tables,
            "models_dir": str(models),
        }
    )


def test_full_pipeline_mart_matches_dataframe_path(spark, tmp_path):
    spec = _tenant(
        tmp_path,
        tables=[
            {
                "name": "customer",
                "columns": ["c_custkey", "c_name", "c_mktsegment", "c_acctbal"],
                "tenant_filter": "c_mktsegment",
            }
        ],
        params={"c_mktsegment": "BUILDING", "min_acctbal": "0"},
    )
    pipe = TenantPipeline(spec=spec, frozen_clock="2024-01-01 00:00:00")
    result = pipe.run(spark)

    assert [r.strategy for r in result["ingest"]] == ["full"]
    assert [m.model for m in result["models"]] == ["stg_customer", "mart_customer"]
    mart = spark.table(f"{spec.tenant_id}.mart_customer")

    expected = (
        spark.read.parquet(f"{SF}/customer.parquet")
        .filter((F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") >= 0))
        .select(
            F.col("c_custkey").cast("string").alias("customer_id"),
            F.coalesce("c_name", F.lit("UNKNOWN")).alias("customer_name"),
            F.concat(F.col("c_mktsegment"), F.lit("_SEG")).alias("segment_tag"),
        )
    )
    got = mart.select("customer_id", "customer_name", "segment_tag")
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    # frozen clock: single deterministic timestamp
    ts = mart.select("created_at").distinct().collect()
    assert len(ts) == 1 and str(ts[0][0]) == "2024-01-01 00:00:00"


def test_incremental_cursor_and_merge(spark, tmp_path):
    spec = _tenant(
        tmp_path,
        tables=[
            {
                "name": "orders",
                "mode": "incremental",
                "incremental_column": "o_orderdate",
                "primary_key": ["o_orderkey"],
            }
        ],
    )
    store = CursorStore(str(tmp_path / "cursors.json"))
    pipe = TenantPipeline(spec=spec, cursor_store=store)
    raw = f"{spec.raw_namespace()}.orders"

    # run 1: no cursor -> truncate_reload, watermark = max(o_orderdate)
    r1 = pipe.ingest(spark)[0]
    assert r1.strategy == "truncate_reload"
    total = spark.table(raw).count()
    wm = store.get(spec.tenant_id, "orders")
    assert wm is not None

    # run 2: cursor present, no new rows -> merge of empty increment
    r2 = pipe.ingest(spark)[0]
    assert r2.strategy == "merge_upsert"
    assert r2.num_rows == total
    assert store.get(spec.tenant_id, "orders") == wm

    # run 3: move the cursor back; the re-extracted (overlapping) rows
    # upsert by PK -> still no duplicates
    import datetime as dt

    store.set(spec.tenant_id, "orders", wm - dt.timedelta(days=365))
    r3 = pipe.ingest(spark)[0]
    assert r3.strategy == "merge_upsert"
    assert r3.num_rows == total
    dupes = (
        spark.table(raw).groupBy("o_orderkey").count().filter(F.col("count") > 1).count()
    )
    assert dupes == 0


def test_incremental_append_without_pk(spark, tmp_path):
    spec = _tenant(
        tmp_path,
        tables=[
            {"name": "nation", "mode": "incremental", "incremental_column": "n_nationkey"}
        ],
    )
    store = CursorStore(str(tmp_path / "c.json"))
    pipe = TenantPipeline(spec=spec, cursor_store=store)
    r1 = pipe.ingest(spark)[0]
    assert r1.strategy == "truncate_reload"
    r2 = pipe.ingest(spark)[0]
    assert r2.strategy == "append"  # no PK -> append path
    assert r2.num_rows == r1.num_rows  # nothing past the watermark


def test_writer_counts_and_cursor_match_landed_tables(spark, tmp_path):
    """Writers report the row count and watermark their own write job
    observed (append: one aggregate after writing). After a
    truncate_reload, a merge_upsert, an append and a cycle with zero
    new rows, each equals a fresh aggregate over the landed table."""
    import datetime as dt

    spec = _tenant(
        tmp_path,
        tables=[
            {
                "name": "orders",
                "mode": "incremental",
                "incremental_column": "o_orderdate",
                "primary_key": ["o_orderkey"],
            },
            {"name": "customer", "mode": "incremental", "incremental_column": "c_custkey"},
        ],
    )
    store = CursorStore(str(tmp_path / "cursors.json"))
    pipe = TenantPipeline(spec=spec, cursor_store=store)
    wm_cols = {"orders": "o_orderdate", "customer": "c_custkey"}

    def check(results, strategies):
        assert [r.strategy for r in results] == strategies
        for r in results:
            fresh = (
                spark.table(r.target)
                .agg(F.max(wm_cols[r.table]).alias("wm"), F.count(F.lit(1)).alias("n"))
                .collect()[0]
            )
            assert r.num_rows == fresh["n"]
            assert r.new_watermark == fresh["wm"]
            assert store.get(spec.tenant_id, r.table) == fresh["wm"]
        return {r.table: r.num_rows for r in results}

    check(pipe.ingest(spark), ["truncate_reload", "truncate_reload"])
    # move both cursors back so the next cycle lands rows: the merge
    # re-writes a year of orders in place, the append adds customers
    # a second time
    tid = spec.tenant_id
    store.set(tid, "orders", store.get(tid, "orders") - dt.timedelta(days=365))
    store.set(tid, "customer", store.get(tid, "customer") - 10)
    landed = check(pipe.ingest(spark), ["merge_upsert", "append"])
    # zero new rows: nothing past either cursor
    assert check(pipe.ingest(spark), ["merge_upsert", "append"]) == landed


def test_writers_truncate_reload_and_merge(spark, tmp_path):
    ns = f"w{uuid.uuid4().hex[:8]}"
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    t = f"{ns}.nation"

    assert writers.truncate_reload(spark, nation, t).num_rows == 25
    # reload is idempotent, not additive; the reload into the existing
    # table reports the watermark its write observed
    assert writers.truncate_reload(spark, nation, t, watermark_col="n_nationkey") == (25, 24)

    # upsert: change one row's name, add a new key
    changed = nation.filter(F.col("n_nationkey") == 0).withColumn("n_name", F.lit("X"))
    added = nation.filter(F.col("n_nationkey") == 1).withColumn(
        "n_nationkey", F.lit(99).cast("bigint")
    )
    inc = changed.unionByName(added)
    assert writers.merge_upsert(spark, inc, t, ("n_nationkey",)).num_rows == 26
    out = {r["n_nationkey"]: r["n_name"] for r in spark.table(t).collect()}
    assert out[0] == "X" and 99 in out

    with pytest.raises(ValueError):
        writers.merge_upsert(spark, inc, t, ())


def test_two_tenant_isolation(spark, tmp_path):
    """Two tenants with different filter params run into disjoint
    namespaces; each mart sees only its tenant's rows (the reference's
    per-tenant isolation, _tenant_factory.py:196-197)."""
    marts = {}
    for seg in ("BUILDING", "MACHINERY"):
        (tmp_path / seg.lower()).mkdir(exist_ok=True)
        spec = _tenant(
            tmp_path / seg.lower(),
            tables=[{"name": "customer", "tenant_filter": "c_mktsegment"}],
            params={"c_mktsegment": seg},
        )
        TenantPipeline(spec=spec, frozen_clock="2024-01-01 00:00:00").run(spark)
        marts[seg] = spark.table(f"{spec.tenant_id}.mart_customer")
    src = spark.read.parquet(f"{SF}/customer.parquet")
    for seg, mart in marts.items():
        assert mart.count() == src.filter(F.col("c_mktsegment") == seg).count()
        tags = {r[0] for r in mart.select("segment_tag").distinct().collect()}
        assert tags == {f"{seg}_SEG"}


def test_env_prefix_namespaces(spark, tmp_path):
    spec = _tenant(
        tmp_path,
        tables=[{"name": "region"}],
    )
    pipe = TenantPipeline(spec=spec, env="LOCAL")
    r = pipe.ingest(spark)[0]
    assert r.target == f"dev_{spec.tenant_id}_raw.region"
    assert spark.table(r.target).count() == 5


INC_MODEL = """\
{{ config(materialized='incremental', unique_key='id') }}
SELECT id, v, updated_at
FROM {{ source('raw', 'events_src') }}
{% if is_incremental() %}
WHERE updated_at > (SELECT max(updated_at) FROM {{ this }})
{% endif %}
"""


def test_incremental_model_merges_delta_only(spark, tmp_path):
    """dbt-style incremental model: first build is a full create (the
    is_incremental() block elides), subsequent runs read only rows past
    the target's high watermark via {{ this }} and merge on unique_key.
    A row mutated *behind* the watermark is deliberately not picked up —
    proof the second run processed the delta, not a full rebuild."""
    from mozart_etl_spark.plans.runner import ModelRunner

    ns = f"inc_{uuid.uuid4().hex[:8]}"
    raw_ns, mart_ns = f"{ns}_raw", f"{ns}_mart"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {raw_ns}")
    b1 = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 100)], "id INT, v STRING, updated_at INT"
    )
    writers.full_replace(spark, b1, f"{raw_ns}.events_src")
    models = tmp_path / "models"
    models.mkdir()
    (models / "inc_model.sql").write_text(INC_MODEL)
    runner = ModelRunner(spark, str(models), raw_ns, mart_ns)

    runner.run()
    tgt = f"{mart_ns}.inc_model"
    assert {tuple(r) for r in spark.table(tgt).collect()} == {(1, "a", 100), (2, "b", 100)}

    b2 = spark.createDataFrame(
        [(1, "MUTATED", 100), (2, "B", 200), (3, "c", 200)],
        "id INT, v STRING, updated_at INT",
    )
    writers.full_replace(spark, b2, f"{raw_ns}.events_src")
    runner.run()
    assert {tuple(r) for r in spark.table(tgt).collect()} == {
        (1, "a", 100),  # behind the watermark: untouched
        (2, "B", 200),  # merged update
        (3, "c", 200),  # merged insert
    }
    for db in (raw_ns, mart_ns):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_runner_looks_up_each_target_once(spark, tmp_path, monkeypatch):
    """The runner asks the catalog whether a model's target exists once
    per model and run: the lookup that decides ``is_incremental()``
    also serves the conflict drop. Counted for an incremental model
    and a table model, on the first build and on an incremental run."""
    from mozart_etl_spark.plans.runner import ModelRunner

    ns = f"look_{uuid.uuid4().hex[:8]}"
    raw_ns, mart_ns = f"{ns}_raw", f"{ns}_mart"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {raw_ns}")
    src = spark.createDataFrame([(1, "a", 100)], "id INT, v STRING, updated_at INT")
    writers.full_replace(spark, src, f"{raw_ns}.events_src")
    models = tmp_path / "models"
    models.mkdir()
    (models / "inc_model.sql").write_text(INC_MODEL)
    (models / "snapshot.sql").write_text(
        "{{ config(materialized='table') }}\nSELECT * FROM {{ ref('inc_model') }}\n"
    )
    runner = ModelRunner(spark, str(models), raw_ns, mart_ns)
    calls = Counter()
    table_exists = spark.catalog.tableExists

    def counted(target, *args, **kwargs):
        if sys._getframe(1).f_globals["__name__"] == "mozart_etl_spark.plans.runner":
            calls[target] += 1
        return table_exists(target, *args, **kwargs)

    monkeypatch.setattr(spark.catalog, "tableExists", counted)
    try:
        for _ in range(2):  # the first build, then an incremental run
            calls.clear()
            runner.run()
            assert dict(calls) == {f"{mart_ns}.inc_model": 1, f"{mart_ns}.snapshot": 1}
    finally:
        monkeypatch.undo()
        for n in (raw_ns, mart_ns):
            spark.sql(f"DROP DATABASE IF EXISTS {n} CASCADE")


def test_aqe_splits_skewed_join_at_runtime(spark):
    """Runtime complement to the static salted_join: with a hot key
    holding ~90% of the fact side, AQE's skew-join rewrite splits the
    oversized partition into parallel sub-joins (skew=true in the
    executed plan) instead of leaving one straggler task — the
    mechanism the engine relies on at 100 TB when skew is not known in
    advance. Thresholds are lowered to make a local-size input skewed
    by AQE's definition; on a cluster the defaults (256 MB) apply."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ]
    old = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        fact = spark.range(0, 300000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN CAST(0 AS BIGINT) ELSE id END AS k",
            "id AS payload",
        )
        dim = spark.range(0, 300000).selectExpr("id AS k", "id * 2 AS v")
        joined = fact.join(dim, "k")
        # execute THIS frame (count() would plan a separate query tree
        # and leave joined's adaptive plan unfinalized)
        n = len(joined.collect())
        assert n == 300000  # every fact row matches exactly one dim row
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_view_model_rerun_and_materialization_migration(spark, tmp_path):
    """A view-materialized model must re-run cleanly (DROP TABLE on an
    existing VIEW is WRONG_COMMAND_FOR_OBJECT_TYPE), and switching a
    model's materialization table <-> view must clear the old object."""
    from mozart_etl_spark.plans.runner import ModelRunner

    models = tmp_path / "vm"
    models.mkdir()
    ns = f"t{uuid.uuid4().hex[:8]}"
    spark.sql(f"CREATE DATABASE {ns}")
    spark.range(3).write.saveAsTable(f"{ns}_raw.src") if spark.catalog.databaseExists(
        f"{ns}_raw"
    ) else None
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {ns}_raw")
    spark.range(3).selectExpr("id").write.mode("overwrite").saveAsTable(f"{ns}_raw.src")

    def runner():
        return ModelRunner(
            spark=spark, models_dir=str(models),
            raw_namespace=f"{ns}_raw", mart_namespace=ns,
        )

    (models / "m.sql").write_text(
        "{{ config(materialized='view') }}\nSELECT id FROM {{ source('raw', 'src') }}"
    )
    assert runner().run()[0].num_rows == 3
    # re-run: view already exists
    assert runner().run()[0].num_rows == 3
    # migrate view -> table
    (models / "m.sql").write_text(
        "{{ config(materialized='table') }}\nSELECT id FROM {{ source('raw', 'src') }}"
    )
    assert runner().run()[0].num_rows == 3
    # and back table -> view
    (models / "m.sql").write_text(
        "{{ config(materialized='view') }}\nSELECT id FROM {{ source('raw', 'src') }}"
    )
    assert runner().run()[0].num_rows == 3


def test_duplicate_model_targets_rejected(spark, tmp_path):
    """Two models materializing to one table must fail like dbt's
    duplicate-relation error, not silently last-writer-wins."""
    from mozart_etl_spark.plans.runner import ModelRunner

    models = tmp_path / "dup"
    models.mkdir()
    (models / "a.sql").write_text("{{ config(alias='same') }}\nSELECT 1 AS x")
    (models / "b.sql").write_text("{{ config(alias='same') }}\nSELECT 2 AS x")
    with pytest.raises(ValueError, match="both"):
        ModelRunner(
            spark=spark, models_dir=str(models),
            raw_namespace="r", mart_namespace="m",
        ).run()


def test_missing_tenant_param_is_loud(spark, tmp_path):
    """tenant_filter configured but no matching param: must raise, not
    silently ingest every tenant's rows (cross-tenant leak)."""
    spec = _tenant(
        tmp_path,
        tables=[{"name": "customer", "tenant_filter": "c_mktsegment"}],
        params={"min_acctbal": "0"},  # filter param absent
    )
    with pytest.raises(ValueError, match="tenant_filter"):
        TenantPipeline(spec=spec, frozen_clock="2024-01-01 00:00:00").ingest(spark)


def test_incremental_column_must_survive_projection(spark, tmp_path):
    """columns projection that drops the incremental cursor column
    must fail at validation time, before any data lands."""
    spec = _tenant(
        tmp_path,
        tables=[
            {
                "name": "customer",
                "columns": ["c_custkey", "c_name"],
                "mode": "incremental",
                "incremental_column": "c_custkey",
            }
        ],
    )
    bad = spec.tables[0]
    assert bad.incremental_column not in ("c_name",)
    spec2 = _tenant(
        tmp_path,
        tables=[
            {
                "name": "customer",
                "columns": ["c_name"],
                "mode": "incremental",
                "incremental_column": "c_custkey",
            }
        ],
    )
    with pytest.raises(ValueError, match="incremental_column"):
        TenantPipeline(spec=spec2).ingest(spark)


def test_incremental_ref_contributes_dag_edge(tmp_path):
    """A ref() that only appears inside {% if is_incremental() %} must
    still create the DAG edge (dbt parses all branches); otherwise the
    downstream model can run before its upstream on incremental runs."""
    from mozart_etl_spark.plans.graph import ModelGraph

    models = tmp_path / "incg"
    models.mkdir()
    (models / "b.sql").write_text("SELECT 1 AS x")
    (models / "a.sql").write_text(
        "{{ config(materialized='incremental') }}\n"
        "SELECT 1 AS x\n"
        "{% if is_incremental() %}\n"
        "WHERE x > (SELECT max(x) FROM {{ ref('b') }})\n"
        "{% endif %}"
    )
    g = ModelGraph.from_dir(str(models))
    assert "b" in g.models["a"].refs
    assert g.order.index("b") < g.order.index("a")


# --- Spark jobs per tenant cycle ------------------------------------
#
# The jobs a cycle launches are the same on every run of the same input
# (ROADMAP probe Q1), so they are pinned as ceilings: a write path or a
# model plan that gains a job fails here, without timing anything. A
# change that removes jobs lowers the ceilings with it.

#: cycle 0: two truncate-reloads and the model's first build
CYCLE0_JOBS = 8
#: later cycles: a merge, an append and the model's rebuild
INCREMENTAL_JOBS = 12

FCT_ORDERS = """\
{{ config(materialized='table') }}
SELECT o.o_orderkey, o.o_status, CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines
FROM {{ source('raw', 'orders') }} o
LEFT JOIN {{ source('raw', 'lineitem') }} l ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderkey, o.o_status
"""


def _land_cycle(root, cycle: int) -> None:
    """Cycle ``cycle``'s part of a change-log source: 20 new orders
    with 2 lineitems each and, from cycle 1 on, orders 0-4 again with
    a new status."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    day = dt.datetime(2024, 1, 1) + dt.timedelta(days=cycle)
    new = list(range(20 * cycle, 20 * cycle + 20))
    keys = new + (list(range(5)) if cycle else [])
    parts = {
        "orders": pa.table({
            "o_orderkey": keys,
            "o_status": [f"s{cycle}"] * len(keys),
            "updated_at": [day + dt.timedelta(seconds=i) for i in range(len(keys))],
        }),
        "lineitem": pa.table({
            "l_orderkey": [k for k in new for _ in range(2)],
            "updated_at": [day + dt.timedelta(seconds=i) for i in range(2 * len(new))],
        }),
    }
    for name, part in parts.items():
        (root / name).mkdir(parents=True, exist_ok=True)
        pq.write_table(part, root / name / f"part-{cycle:03d}.parquet")


def _cycle_tenant(tmp_path):
    """(pipeline, source directory) of a tenant whose cycles merge
    ``orders``, append ``lineitem`` and rebuild ``fct_orders``."""
    models = tmp_path / "models"
    models.mkdir()
    (models / "fct_orders.sql").write_text(FCT_ORDERS)
    src = tmp_path / "src"
    inc = {"mode": "incremental", "incremental_column": "updated_at"}
    spec = TenantSpec.from_dict(
        {
            "tenant_id": f"t{uuid.uuid4().hex[:8]}",
            "source": {"type": "parquet", "path": str(src)},
            "tables": [
                {"name": "orders", "primary_key": ["o_orderkey"], **inc},
                {"name": "lineitem", **inc},
            ],
            "models_dir": str(models),
        }
    )
    pipe = TenantPipeline(spec=spec, cursor_store=CursorStore(str(tmp_path / "cursors.json")))
    return pipe, src


def test_tenant_cycle_job_ceilings(spark, spark_jobs, tmp_path):
    pipe, src = _cycle_tenant(tmp_path)
    jobs = []
    try:
        for cycle in range(3):
            _land_cycle(src, cycle)
            result, n = spark_jobs(lambda: pipe.run(spark))
            jobs.append(n)
            strategies = [r.strategy for r in result["ingest"]]
            assert strategies == (
                ["truncate_reload", "truncate_reload"] if cycle == 0 else ["merge_upsert", "append"]
            )
            n_orders = 20 * (cycle + 1)
            assert [r.num_rows for r in result["ingest"]] == [n_orders, 2 * n_orders]
            assert result["models"][0].num_rows == n_orders
        assert jobs[0] <= CYCLE0_JOBS, jobs
        assert max(jobs[1:]) <= INCREMENTAL_JOBS, jobs
    finally:
        for ns in (pipe.raw_ns, pipe.mart_ns):
            spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")


def test_tenant_cycle_catalog_calls(spark, tmp_path, monkeypatch):
    """Writers create a namespace and clear a stale location only where
    they create a table, so an incremental cycle, whose tables all
    exist, issues no ``CREATE DATABASE`` from them; and the catalog
    calls of one incremental cycle repeat exactly in the next."""
    pipe, src = _cycle_tenant(tmp_path)
    calls = Counter()
    sql, table_exists = spark.sql, spark.catalog.tableExists

    def caller() -> str:
        return sys._getframe(2).f_globals["__name__"]

    def counted_sql(query, *args, **kwargs):
        if query.lstrip().upper().startswith("CREATE DATABASE"):
            calls["CREATE DATABASE", caller()] += 1
        return sql(query, *args, **kwargs)

    def counted_table_exists(*args, **kwargs):
        calls["tableExists", caller()] += 1
        return table_exists(*args, **kwargs)

    monkeypatch.setattr(spark, "sql", counted_sql)
    monkeypatch.setattr(spark.catalog, "tableExists", counted_table_exists)
    per_cycle = []
    try:
        for cycle in range(3):
            _land_cycle(src, cycle)
            calls.clear()
            pipe.run(spark)
            per_cycle.append(dict(calls))
    finally:
        monkeypatch.undo()
        for ns in (pipe.raw_ns, pipe.mart_ns):
            spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")
    writer_creates = ("CREATE DATABASE", "mozart_etl_spark.writers")
    assert per_cycle[0].get(writer_creates, 0) > 0, per_cycle[0]
    assert [c.get(writer_creates, 0) for c in per_cycle[1:]] == [0, 0], per_cycle
    assert per_cycle[1] == per_cycle[2], per_cycle
