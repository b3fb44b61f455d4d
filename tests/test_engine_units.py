"""Unit tests for the non-SQL engine parts (SURVEY.md §5 item 4):
config/env resolution, connector URL construction, renderer, DAG,
cursor store. No Spark session needed."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from mozart_etl_spark.config import SourceConfig, TableSpec, TenantSpec, resolve_env
from mozart_etl_spark.cursor import CursorStore
from mozart_etl_spark.plans.graph import ModelGraph
from mozart_etl_spark.plans.render import render_sql
from mozart_etl_spark.sources.reader import jdbc_url


# --- config / env resolution (semantics of _shared.py:51-76) ---------------


def test_resolve_env_with_default(monkeypatch):
    monkeypatch.setenv("HOST", "db.example")
    monkeypatch.delenv("PORT", raising=False)
    assert resolve_env("${HOST}:${PORT:5432}") == "db.example:5432"


def test_resolve_env_unset_no_default_is_empty(monkeypatch):
    monkeypatch.delenv("NOPE", raising=False)
    assert resolve_env("x${NOPE}y") == "xy"


def test_resolve_env_first_colon_splits(monkeypatch):
    monkeypatch.delenv("URL", raising=False)
    assert resolve_env("${URL:http://a:b}") == "http://a:b"


def test_resolve_env_recurses_containers(monkeypatch):
    monkeypatch.delenv("X", raising=False)
    out = resolve_env({"a": ["${X:1}", {"b": "${X:2}"}]})
    assert out == {"a": ["1", {"b": "2"}]}


def test_tenant_spec_from_dict():
    spec = TenantSpec.from_dict(
        {
            "tenant_id": "t1",
            "source": {"type": "postgresql", "host": "h", "database": "d", "user": "u"},
            "params": {"project_id": "p-1"},
            "tables": [
                {
                    "name": "cfg_item_master",
                    "columns": ["project_id", "item_id"],
                    "tenant_filter": "project_id",
                    "incremental_column": "update_datetime",
                    "mode": "incremental",
                    "primary_key": ["project_id", "item_id"],
                }
            ],
        }
    )
    t = spec.tables[0]
    assert t.mode == "incremental"
    assert t.primary_key == ("project_id", "item_id")
    assert spec.raw_namespace("PROD") == "t1_raw"
    assert spec.raw_namespace("LOCAL") == "dev_t1_raw"
    assert spec.mart_namespace() == "t1"


def test_tenant_spec_from_yaml_defaults_models_dir(tmp_path):
    """A ``tenant.yaml`` with no ``models_dir`` takes the ``models/``
    directory next to it, as the reference's per-tenant layout does."""
    (tmp_path / "models").mkdir()
    path = tmp_path / "tenant.yaml"
    path.write_text(
        "tenant_id: t1\n"
        "source: {type: parquet, path: /data}\n"
        "params: {project_id: p-1}\n"
        "tables:\n"
        "  - {name: orders, mode: incremental, incremental_column: ts}\n"
    )
    spec = TenantSpec.from_yaml(str(path))
    assert spec.models_dir == str(tmp_path / "models")
    assert spec.source.path == "/data"
    assert spec.tables[0].incremental_column == "ts"
    (tmp_path / "models").rmdir()
    assert TenantSpec.from_yaml(str(path)).models_dir == ""


# --- connector URLs (connectors/postgresql.py, mysql.py, oracle.py) --------


def test_jdbc_urls():
    pg = SourceConfig(type="postgresql", host="h", database="d")
    my = SourceConfig(type="mysql", host="h", port=3307, database="d")
    ora_svc = SourceConfig(type="oracle", host="h", service_name="SVC")
    ora_sid = SourceConfig(type="oracle", host="h", sid="XE")
    assert jdbc_url(pg) == "jdbc:postgresql://h:5432/d"
    assert jdbc_url(my) == "jdbc:mysql://h:3307/d"
    assert jdbc_url(ora_svc) == "jdbc:oracle:thin:@//h:1521/SVC"
    assert jdbc_url(ora_sid) == "jdbc:oracle:thin:@h:1521:XE"
    with pytest.raises(ValueError):
        jdbc_url(SourceConfig(type="parquet", path="/x"))


# --- renderer (the 4-function Jinja subset) --------------------------------

MODEL = """\
{{ config(materialized='table', alias='item_master', tags=['mart']) }}
WITH source AS (
    SELECT * FROM {{ source('raw', 'cfg_item_master') }}
    {% if var('project_id', '') %}
    WHERE project_id = '{{ var("project_id") }}'
    {% endif %}
)
SELECT item_id, '{{ var("plan_ver", "V1.0") }}' AS plan_ver,
       CURRENT_TIMESTAMP AS created_at
FROM source JOIN {{ ref('stg_other') }} USING (item_id)
"""


def test_render_collects_config_and_deps():
    m = render_sql(MODEL, variables={"project_id": "p-1"})
    assert m.config["alias"] == "item_master"
    assert m.sources == (("raw", "cfg_item_master"),)
    assert m.refs == ("stg_other",)
    assert "WHERE project_id = 'p-1'" in m.sql
    assert "{{" not in m.sql


def test_render_if_elision_and_var_default():
    m = render_sql(MODEL)  # no project_id -> predicate elided
    assert "WHERE project_id" not in m.sql
    assert "'V1.0' AS plan_ver" in m.sql


def test_render_var_without_default_raises():
    with pytest.raises(Exception):
        render_sql("SELECT {{ var('missing') }}")


def test_render_frozen_clock():
    m = render_sql("SELECT CURRENT_TIMESTAMP AS t, current_timestamp() AS t2",
                   frozen_clock="2024-01-01 00:00:00")
    assert m.sql.count("TIMESTAMP '2024-01-01 00:00:00'") == 2


def test_render_frozen_clock_variants():
    """Every wall-clock spelling the Trino surface allows freezes:
    parens with inner whitespace, mixed case, the now() alias, and
    occurrences inside CTE bodies (SURVEY §2.3 E4)."""
    text = """
    WITH audited AS (
        SELECT id, Current_Timestamp ( ) AS created_at,
               NOW() AS refreshed_at,
               current_timestamp(3) AS precise_at
        FROM {{ source('raw', 'items') }}
    )
    SELECT id, created_at, refreshed_at, current_TIMESTAMP AS exported_at
    FROM audited
    """
    m = render_sql(text, frozen_clock="2024-01-01 00:00:00")
    assert m.sql.count("TIMESTAMP '2024-01-01 00:00:00'") == 4
    assert "(3)" not in m.sql  # precision argument swallowed, not orphaned
    for leak in ("CURRENT_TIMESTAMP", "NOW"):
        assert leak not in m.sql.upper().replace("TIMESTAMP '2024", "")


def test_render_frozen_clock_does_not_rewrite_identifiers():
    """Column/identifier names that merely contain the words are left
    alone — only the function forms freeze."""
    m = render_sql(
        "SELECT now_count, last_now, current_timestamps FROM t",
        frozen_clock="2024-01-01 00:00:00",
    )
    assert "TIMESTAMP '" not in m.sql
    assert "now_count" in m.sql and "current_timestamps" in m.sql


def test_render_varchar_normalized_to_string():
    m = render_sql("SELECT x::VARCHAR, CAST(y AS varchar), CAST(z AS VARCHAR(10)) FROM t")
    assert "x::STRING" in m.sql
    assert "CAST(y AS STRING)" in m.sql
    assert "VARCHAR(10)" in m.sql  # sized VARCHAR is valid Spark SQL; untouched


def test_render_rewrites_leave_string_literals_alone():
    """Dialect normalization (VARCHAR->STRING, frozen clock) and
    blank-line stripping are syntax rewrites — they must never mutate
    single-quoted string literals, which are output data."""
    text = (
        "SELECT 'stored as VARCHAR' AS note,\n"
        "       'CURRENT_TIMESTAMP' AS label,\n"
        "       'line1\n"
        "\n"
        "line3' AS multi,\n"
        "       x::VARCHAR AS cast_col,\n"
        "       CURRENT_TIMESTAMP AS created_at\n"
        "FROM t"
    )
    m = render_sql(text, frozen_clock="2024-01-01 00:00:00")
    assert "'stored as VARCHAR'" in m.sql        # literal untouched
    assert "'CURRENT_TIMESTAMP'" in m.sql        # literal untouched
    assert "'line1\n\nline3'" in m.sql           # blank line inside literal kept
    assert "x::STRING" in m.sql                  # real cast rewritten
    assert "TIMESTAMP '2024-01-01 00:00:00' AS created_at" in m.sql


def test_cursor_store_decimal_watermark(tmp_path):
    """DECIMAL cursor columns (Oracle NUMBER) must round-trip exactly
    — float would shift the > pushdown boundary; JSON must not crash."""
    import decimal

    from mozart_etl_spark.cursor import CursorStore

    store = CursorStore(path=str(tmp_path / "cur.json"))
    wm = decimal.Decimal("12345678901234567890.123456789")
    store.set("t1", "orders", wm)
    got = store.get("t1", "orders")
    assert got == wm and isinstance(got, decimal.Decimal)
    store.clear("t1", "orders")
    assert store.get("t1", "orders") is None


def test_render_resolvers():
    m = render_sql(
        MODEL,
        resolve_source=lambda g, t: f"t1_raw.{t}",
        resolve_ref=lambda r: f"t1.{r}",
    )
    assert "FROM t1_raw.cfg_item_master" in m.sql
    assert "JOIN t1.stg_other" in m.sql


# --- model graph -----------------------------------------------------------


def _write_models(tmp_path, models: dict[str, str]) -> str:
    d = tmp_path / "models"
    d.mkdir()
    for name, sql in models.items():
        (d / f"{name}.sql").write_text(sql)
    return str(d)


def test_graph_topo_order(tmp_path):
    d = _write_models(
        tmp_path,
        {
            "mart_x": "SELECT * FROM {{ ref('stg_a') }} JOIN {{ ref('stg_b') }} USING (k)",
            "stg_b": "SELECT * FROM {{ source('raw', 't2') }}",
            "stg_a": "SELECT * FROM {{ source('raw', 't1') }}",
        },
    )
    g = ModelGraph.from_dir(d)
    assert g.order == ("stg_a", "stg_b", "mart_x")


def test_graph_cycle_raises(tmp_path):
    d = _write_models(
        tmp_path,
        {"a": "SELECT * FROM {{ ref('b') }}", "b": "SELECT * FROM {{ ref('a') }}"},
    )
    with pytest.raises(ValueError, match="cycle"):
        ModelGraph.from_dir(d)


def test_graph_unknown_ref_raises(tmp_path):
    d = _write_models(tmp_path, {"a": "SELECT * FROM {{ ref('ghost') }}"})
    with pytest.raises(ValueError, match="unknown model"):
        ModelGraph.from_dir(d)


# --- cursor store ----------------------------------------------------------


def test_cursor_roundtrip(tmp_path):
    store = CursorStore(str(tmp_path / "state" / "cursors.json"))
    assert store.get("t1", "orders") is None
    ts = dt.datetime(2024, 1, 25, 12, 30, 0)
    store.set("t1", "orders", ts)
    store.set("t1", "events", 42)
    store.set("t2", "orders", dt.date(2024, 2, 1))
    assert store.get("t1", "orders") == ts
    assert store.get("t1", "events") == 42
    assert store.get("t2", "orders") == dt.date(2024, 2, 1)
    store.clear("t1", "orders")
    assert store.get("t1", "orders") is None
    # file survives as valid JSON after clear
    assert os.path.exists(store.path)


def test_bench_compact_line_fits_tail_capture():
    """Round 3's bench output was unparseable because the 100-query
    JSON line exceeded the driver's ~2000-char tail capture. Pin the
    contract: the compact stdout line stays bounded and parseable even
    at 4x the current query count, reports failures, and its total
    counts only successful runs."""
    import json

    import bench

    timings = {f"query_name_with_a_long_ish_label_{i:03d}": i * 0.123 for i in range(400)}
    timings["broken_query"] = -1.0
    line = bench.compact_summary(
        timings, sf=0.1, calib=12.345, calib_shuffle=1.234,
        pass_totals=[110.2, 97.3],
    )
    assert len(line) < 1800
    d = json.loads(line)
    assert d["n_queries"] == 401
    assert d["failed"] == ["broken_query"]
    assert len(d["queries"]) == 10
    assert d["calib_sec"] == 12.345  # host-epoch normalizer rides the line
    assert d["calib_shuffle_sec"] == 1.234  # shuffle-path epoch reference
    # r14 variance note: per-pass totals + spread ride the line so a
    # slow epoch can't print an unannotated misleading headline
    assert d["pass_totals"] == [110.2, 97.3]
    assert d["spread_pct"] == round((110.2 - 97.3) / 97.3, 3)
    assert "r13_verdict" in d
    assert abs(d["value"] - round(sum(v for v in timings.values() if v >= 0), 3)) < 1e-6
    # mass failure (missing data dir, broken session) is exactly when
    # a parseable line matters: the failed list must stay capped —
    # and the spread must degrade to None, not divide by zero, when
    # every query failed (pass sums are 0.0)
    wreck = bench.compact_summary(
        {k: -1.0 for k in timings}, sf=0.1, calib=12.345, calib_shuffle=1.234,
        pass_totals=[0.0, 0.0],
    )
    assert len(wreck) < 1800
    w = json.loads(wreck)
    assert w["n_failed"] == 401 and len(w["failed"]) == 10 and w["value"] == 0
    assert w["spread_pct"] is None


def test_driver_priority_window():
    """The driver harness records CORRECTNESS rows for the first 50
    queries() entries. Round-19 rotation: corpus_pii_scrub, whose plan
    changed, leads; then the 8 rows round 16 certified and rounds 17-18
    did not; then the 41 oldest rows, certified in round 17 and not
    since, in round 17's window order; the other 8 stay outside and
    rotate first next round. Every priority name must resolve (no
    typos against the registry)."""
    from mozart_etl_spark import querybank

    names = list(querybank.queries())
    assert len(names) == len(set(names))
    missing = [n for n in querybank.DRIVER_PRIORITY if n not in querybank.REGISTRY]
    assert not missing, f"priority names not registered: {missing}"
    assert len(querybank.DRIVER_PRIORITY) == 50
    window = names[:50]

    # (a) the plan this round changes
    assert window[0] == "corpus_pii_scrub"
    # (b) certified in round 16, left out of rounds 17 and 18
    assert window[1:9] == [
        "both_segments_nations", "events_markov_transitions", "nation_revenue_running_share",
        "range_join_click_views", "customer_order_distribution", "nation_market_share",
        "disjunctive_filter_revenue", "events_salted_enrich",
    ]
    # (c) certified in round 17, left out of round 18, in round 17's order
    assert window[9:] == [
        "corpus_clean", "corpus_incremental_dedup", "customer_balance_deciles", "corpus_shard_plan",
        "dedup_components", "dedup_canonical", "regional_supplier_revenue", "distinct_parts_approx",
        "large_order_customers", "order_price_quantiles_approx", "events_funnel",
        "part_name_typo_pairs", "orders_column_profile", "decimal_uplift_totals",
        "etl_mart_customer", "corpus_chunks_overlap", "dedup_minhash_lsh", "dedup_ngram_jaccard",
        "corpus_span_scrub", "corpus_repeated_spans", "text_cooccurrence_pmi", "knn_lsh_cosine",
        "knn_ivf_cosine", "knn_bruteforce_cosine", "dedup_embedding_lsh", "dedup_embedding_cosine",
        "asof_click_view", "corpus_chunks", "corpus_decontaminate", "cross_nation_trade",
        "select_project_filter", "string_functions", "top_parts_by_price", "part_catalog_enriched",
        "corpus_sample_balanced", "corpus_shuffle_slice", "mart_item_master", "text_rolling_hash",
        "orders_by_year", "corpus_weighted_sample", "text_stopword_ratio",
    ]
    # the 8 that rotate first next round
    deferred = {
        "order_price_buckets", "text_lang_confusion", "text_bpe_token_stats",
        "events_key_skew_profile", "events_by_type", "latest_event_per_user",
        "top_supplier_revenue", "promo_revenue_ratio",
    }
    assert deferred <= set(names[50:])


def test_ntile_formula_matches_sql_ntile():
    """customer_balance_deciles derives buckets from a global row
    number; the formula must equal SQL ntile(10) for counts NOT
    divisible by 10 (ntile gives all larger buckets FIRST — a naive
    ((rank-1)*k) div n spreads the remainder evenly and diverges)."""
    import duckdb

    con = duckdb.connect()
    for n in (7, 12, 25, 97, 100, 1303):
        duck = [
            r[0]
            for r in con.execute(
                f"SELECT ntile(10) OVER (ORDER BY x) FROM (SELECT unnest(range({n})) x)"
            ).fetchall()
        ]
        q, r = divmod(n, 10)
        big = r * (q + 1)
        mine = [
            ((rank - 1) // max(q + 1, 1) if rank <= big else r + (rank - 1 - big) // max(q, 1)) + 1
            for rank in range(1, n + 1)
        ]
        assert mine == duck, n


def test_orphan_keys_counts_null_keys(spark):
    """NULL fact keys reference nothing: they are orphans and must be
    reflected in n_orphan_keys, not silently skipped by
    count_distinct; an orphan-free input still reports 0."""
    from mozart_etl_spark.operators.quality import orphan_keys

    fact = spark.createDataFrame(
        [(None,), (None,), (7,), (1,)], "user_id INT"
    )
    dim = spark.createDataFrame([(1,)], "id INT")
    row = orphan_keys(fact, dim, "user_id", "id").collect()[0]
    assert row["n_orphan_rows"] == 3  # two NULLs + key 7
    assert row["n_orphan_keys"] == 2  # {NULL, 7}
    clean = orphan_keys(spark.createDataFrame([(1,)], "user_id INT"), dim, "user_id", "id").collect()[0]
    assert (clean["n_orphan_rows"], clean["n_orphan_keys"]) == (0, 0)
