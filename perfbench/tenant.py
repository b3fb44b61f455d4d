"""The multi-tenant ELT workload: seeded sources, cycles, DuckDB check.

The source is derived from the synthetic ``customer``/``orders``/
``lineitem`` tables (``datagen``). ``--seed`` decides:

- which tenant each customer belongs to, with skewed sizes
  (:data:`TENANT_WEIGHTS`); orders and lineitems follow their customer;
- the order in which orders arrive: :data:`BASE_FRAC` of them in cycle
  0, then :data:`NEW_FRAC` per cycle;
- which already-landed orders are re-emitted with a new status and
  price in each cycle (:data:`UPDATE_FRAC`).

Every row carries ``tenant`` and an ``updated_at`` timestamp inside its
cycle's day. Cycle ``k``'s source snapshot is a directory whose
``orders/`` and ``lineitem/`` hold the part files of cycles ``0..k``
(hard links, so snapshots cost no copies): an append-only change log,
read incrementally through the cursor.

One operation is one tenant's cycle: ``customer`` full replace with the
tenant filter, ``orders`` incremental ``merge_upsert`` on
``o_orderkey``, ``lineitem`` incremental append, then the SQL models in
``tenant_models/`` (staging table, join+aggregate mart, incremental
model with ``unique_key``).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import TABLES, _gen_table, row_counts
from workloads import DATA_SEED, value_hash

MODELS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tenant_models")
TENANT_WEIGHTS = (0.7, 0.3)
BASE_FRAC = 0.6
NEW_FRAC = 0.01
UPDATE_FRAC = 0.005
N_CYCLES = 30
_DAY_US = 86_400 * 10**6
_T0_US = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


@dataclass
class TenantSource:
    root: str
    tenants: tuple[str, ...]
    cust_rows: dict[str, int]
    #: [tenant][cycle] -> rows in that cycle's orders / lineitem part
    order_delta: dict[str, list[int]]
    line_delta: dict[str, list[int]]
    #: [tenant][cycle] -> distinct orders landed / lineitems landed /
    #: customers with an order, after that cycle
    orders_total: dict[str, list[int]]
    lines_total: dict[str, list[int]]
    buyers_total: dict[str, list[int]]

    def snapshot(self, cycle: int) -> str:
        return os.path.join(self.root, f"c{cycle:03d}")

    def landed_rows(self, tenant: str, cycle: int) -> int:
        """Source rows one cycle lands in the raw tables."""
        return self.cust_rows[tenant] + self.order_delta[tenant][cycle] + self.line_delta[tenant][cycle]


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def build_source(root: str, sf: float, seed: int) -> TenantSource:
    n = row_counts(sf)
    customer, orders, lineitem = (
        _gen_table(t, n, np.random.default_rng([DATA_SEED, TABLES.index(t)]))
        for t in ("customer", "orders", "lineitem")
    )
    rng = np.random.default_rng(seed)
    tenants = tuple(f"t{i}" for i in range(len(TENANT_WEIGHTS)))
    cust_t = rng.choice(len(tenants), n["customer"], p=TENANT_WEIGHTS)
    names = np.asarray(tenants, dtype=object)

    n_orders = n["orders"]
    order_t = cust_t[orders.column("o_custkey").to_numpy()]
    arrival = np.empty(n_orders, dtype=np.int64)
    perm = rng.permutation(n_orders)
    n_base = int(BASE_FRAC * n_orders)
    per_cycle = max(1, int(NEW_FRAC * n_orders))
    arrival[perm[:n_base]] = 0
    rest = perm[n_base:]
    arrival[rest] = np.minimum(1 + np.arange(len(rest)) // per_cycle, 10**9)
    line_order = lineitem.column("l_orderkey").to_numpy()
    line_cycle = arrival[line_order]

    customer = customer.append_column("tenant", pa.array(names[cust_t], pa.string()))
    _write(customer, os.path.join(root, "customer.parquet"))

    cust_rows = {t: int((cust_t == i).sum()) for i, t in enumerate(tenants)}
    order_delta = {t: [] for t in tenants}
    line_delta = {t: [] for t in tenants}
    orders_total = {t: [] for t in tenants}
    lines_total = {t: [] for t in tenants}
    buyers_total = {t: [] for t in tenants}
    order_cust = orders.column("o_custkey").to_numpy()
    status = orders.column("o_orderstatus").to_numpy(zero_copy_only=False).astype(object)
    price = orders.column("o_totalprice").to_numpy().copy()
    landed = np.zeros(n_orders, dtype=bool)
    for k in range(N_CYCLES):
        new = np.flatnonzero(arrival == k)
        upd = np.empty(0, dtype=np.int64)
        if k > 0:
            pool = np.flatnonzero(landed)
            upd = rng.choice(pool, min(len(pool), int(UPDATE_FRAC * n_orders)), replace=False)
            status[upd] = rng.choice(np.asarray(["F", "O", "P"], dtype=object), len(upd))
            price[upd] = np.round(price[upd] * rng.uniform(0.9, 1.1, len(upd)), 2)
        rows = np.sort(np.concatenate([new, upd]))
        ts = _T0_US + k * _DAY_US + np.sort(rng.integers(0, _DAY_US, len(rows)))
        part = orders.take(pa.array(rows)).set_column(
            orders.schema.get_field_index("o_orderstatus"), "o_orderstatus",
            pa.array(status[rows], pa.string()),
        ).set_column(
            orders.schema.get_field_index("o_totalprice"), "o_totalprice", pa.array(price[rows]),
        )
        part = part.append_column("tenant", pa.array(names[order_t[rows]], pa.string()))
        part = part.append_column("updated_at", pa.array(ts, pa.timestamp("us")))
        _write(part, os.path.join(root, "parts", "orders", f"part-{k:03d}.parquet"))
        lrows = np.flatnonzero(line_cycle == k)
        lpart = lineitem.take(pa.array(lrows))
        lpart = lpart.append_column("tenant", pa.array(names[order_t[line_order[lrows]]], pa.string()))
        lts = _T0_US + k * _DAY_US + rng.integers(0, _DAY_US, len(lrows))
        lpart = lpart.append_column("updated_at", pa.array(lts, pa.timestamp("us")))
        _write(lpart, os.path.join(root, "parts", "lineitem", f"part-{k:03d}.parquet"))
        landed[new] = True
        buyers = np.zeros(n["customer"], dtype=bool)
        buyers[order_cust[landed]] = True
        for i, t in enumerate(tenants):
            order_delta[t].append(int((order_t[rows] == i).sum()))
            line_delta[t].append(int((order_t[line_order[lrows]] == i).sum()))
            orders_total[t].append(int((landed & (order_t == i)).sum()))
            lines_total[t].append(int(((line_cycle <= k) & (order_t[line_order] == i)).sum()))
            buyers_total[t].append(int((buyers & (cust_t == i)).sum()))
        snap = os.path.join(root, f"c{k:03d}")
        os.makedirs(snap)
        os.link(os.path.join(root, "customer.parquet"), os.path.join(snap, "customer.parquet"))
        for tbl in ("orders", "lineitem"):
            os.makedirs(os.path.join(snap, tbl))
            for j in range(k + 1):
                f = f"part-{j:03d}.parquet"
                os.link(os.path.join(root, "parts", tbl, f), os.path.join(snap, tbl, f))
    return TenantSource(root, tenants, cust_rows, order_delta, line_delta,
                        orders_total, lines_total, buyers_total)


def tenant_spec(source: TenantSource, namespace: str, tenant: str, cycle: int):
    from mozart_etl_spark.config import TenantSpec

    inc = {"mode": "incremental", "incremental_column": "updated_at", "tenant_filter": "tenant"}
    return TenantSpec.from_dict(
        {
            "tenant_id": f"{namespace}_{tenant}",
            "source": {"type": "parquet", "path": source.snapshot(cycle)},
            "params": {"tenant": tenant},
            "tables": [
                {"name": "customer", "tenant_filter": "tenant"},
                {"name": "orders", "primary_key": ["o_orderkey"], **inc},
                {"name": "lineitem", **inc},
            ],
            "models_dir": MODELS_DIR,
        }
    )


def expected_counts(source: TenantSource, tenant: str, cycle: int) -> dict[str, int]:
    """Row counts every table and model must show after a cycle."""
    orders = source.orders_total[tenant][cycle]
    return {
        "customer": source.cust_rows[tenant],
        "orders": orders,
        "lineitem": source.lines_total[tenant][cycle],
        "stg_orders": orders,
        "mart_customer_revenue": source.buyers_total[tenant][cycle],
        "fct_order_lines": orders,
    }


#: columns of each mart that the end check compares
MART_COLUMNS = {
    "mart_customer_revenue": ("c_custkey", "c_mktsegment", "n_orders", "n_lines", "revenue"),
    "fct_order_lines": ("o_orderkey", "o_orderstatus", "o_totalprice", "n_lines", "quantity"),
}

#: DuckDB twins of the SQL models, over the final source snapshot
_DUCK_MODELS = {
    "mart_customer_revenue": """
        SELECT c.c_custkey, c.c_mktsegment,
               CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines,
               SUM(CAST(l.l_extendedprice AS DECIMAL(12, 2))
                   * (1 - CAST(l.l_discount AS DECIMAL(4, 2)))) AS revenue
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY c.c_custkey, c.c_mktsegment
    """,
    "fct_order_lines": """
        SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice,
               CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines,
               SUM(l.l_quantity) AS quantity
        FROM orders o
        LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderstatus, o.o_totalprice
    """,
}


def duckdb_marts(source: TenantSource, tenant: str, cycle: int) -> dict[str, str]:
    """Value hashes of the marts recomputed by DuckDB from the cycle's
    snapshot: latest version of each order, the tenant's rows only."""
    import duckdb

    snap = source.snapshot(cycle)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        con.execute(
            f"CREATE VIEW customer AS SELECT * FROM read_parquet('{snap}/customer.parquet') "
            f"WHERE tenant = '{tenant}'"
        )
        con.execute(
            f"CREATE VIEW orders AS SELECT * EXCLUDE (rn) FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY updated_at DESC) AS rn "
            f"FROM read_parquet('{snap}/orders/*.parquet') WHERE tenant = '{tenant}') WHERE rn = 1"
        )
        con.execute(
            f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{snap}/lineitem/*.parquet') "
            f"WHERE tenant = '{tenant}'"
        )
        out = {}
        for model, sql in _DUCK_MODELS.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[model] = value_hash([dict(zip(cols, r)) for r in cur.fetchall()])
        return out
    finally:
        con.close()


def spark_marts(spark, namespace: str, tenant: str) -> dict[str, str]:
    out = {}
    for model, cols in MART_COLUMNS.items():
        df = spark.table(f"{namespace}_{tenant}.{model}").select(*cols)
        out[model] = value_hash([r.asDict() for r in df.collect()])
    return out
