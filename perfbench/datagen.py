"""Seeded synthetic tables in the query bank's input layout.

Writes ``{out}/{table}.parquet`` for the ten tables the bank reads
(TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``), with the same column names, types and value domains
as the bank's reference test data, so every registered query runs on
them unchanged:

- keys are dense from 0; foreign keys are uniform over the parent;
- dates, prices and categorical domains follow the reference ranges;
- ``events.ts`` is increasing with exponential gaps over 30 days;
- 5% of documents are an earlier or later document plus `` dup``
  (the near-duplicates the dedup operators look for);
- embeddings are 64-dim unit Gaussians with a label in 0..9.

Row counts scale with ``sf`` like the reference (``lineitem`` =
6M x sf); ``documents``/``embeddings`` have floors of 500.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

_DAY_US = 86_400 * 10**6
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def row_counts(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _gen_table(name: str, n: dict[str, int], rng: np.random.Generator) -> pa.Table:
    if name == "region":
        return pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        )
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        )
    if name == "customer":
        k = n["customer"]
        return pa.table(
            {
                "c_custkey": pa.array(np.arange(k), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
                "c_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
                "c_mktsegment": _pick(rng, SEGMENTS, k),
            }
        )
    if name == "supplier":
        k = n["supplier"]
        return pa.table(
            {
                "s_suppkey": pa.array(np.arange(k), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
                "s_nationkey": pa.array(rng.integers(0, 25, k), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, k)),
            }
        )
    if name == "part":
        k = n["part"]
        names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
        return pa.table(
            {
                "p_partkey": pa.array(np.arange(k), pa.int64()),
                "p_name": _pick(rng, names, k),
                "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k),
                "p_type": _pick(rng, PART_TYPES, k),
                "p_size": pa.array(rng.integers(1, 51, k), pa.int32()),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(k) % 1000) / 10.0, 2)),
            }
        )
    if name == "orders":
        k = n["orders"]
        lo = _us(dt.datetime(1995, 1, 1)) // _DAY_US
        return pa.table(
            {
                "o_orderkey": pa.array(np.arange(k), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n["customer"], k), pa.int64()),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), k),
                "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, k)),
                "o_orderdate": _ts((lo + rng.integers(0, 2400, k)) * _DAY_US),
                "o_orderpriority": _pick(rng, PRIORITIES, k),
            }
        )
    if name == "lineitem":
        k = n["lineitem"]
        lo = _us(dt.datetime(1995, 1, 2)) // _DAY_US
        return pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n["orders"], k), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n["part"], k), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, k), pa.int32()),
                "l_quantity": pa.array(rng.integers(1, 51, k).astype("float64")),
                "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, k)),
                "l_discount": pa.array(rng.integers(0, 11, k) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, k) / 100.0),
                "l_returnflag": _pick(rng, ("A", "N", "R"), k),
                "l_linestatus": _pick(rng, ("F", "O"), k),
                "l_shipdate": _ts((lo + rng.integers(0, 2500, k)) * _DAY_US),
            }
        )
    if name == "events":
        k = n["events"]
        span_us = 30 * _DAY_US
        gaps = rng.exponential(span_us / (k + 1), k)
        ts = _us(dt.datetime(2024, 1, 1)) + np.minimum(np.cumsum(gaps), span_us - 1)
        return pa.table(
            {
                "event_id": pa.array(np.arange(k), pa.int64()),
                "ts": _ts(ts),
                "user_id": pa.array(rng.integers(0, max(1, k // 67), k), pa.int64()),
                "event_type": _pick(rng, EVENT_TYPES, k),
                "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, k), 2))),
                "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, k)]),
            }
        )
    if name == "documents":
        k = n["documents"]
        words = np.asarray(VOCAB, dtype=object)
        texts = [" ".join(words[rng.integers(0, len(VOCAB), rng.integers(10, 101))]) for _ in range(k)]
        for i in np.flatnonzero(rng.random(k) < 0.05):
            j = int(rng.integers(0, k))
            if j != i:
                texts[i] = texts[j] + " dup"
        return pa.table(
            {
                "doc_id": pa.array(np.arange(k), pa.int64()),
                "text": pa.array(texts),
                "lang": _pick(rng, LANGS, k, p=LANG_P),
                "source": pa.array([f"src{i % 20}" for i in range(k)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
    if name == "embeddings":
        k = n["embeddings"]
        mat = rng.standard_normal((k, 64))
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        flat = pa.array(mat.astype(np.float32).ravel(), pa.float32())
        return pa.table(
            {
                "vec_id": pa.array(np.arange(k), pa.int64()),
                "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * k + 1, 64), pa.int32()), flat),
                "label": pa.array(rng.integers(0, 10, k), pa.int32()),
            }
        )
    raise ValueError(f"unknown table {name!r}")


def generate(out: str, sf: float, seed: int) -> None:
    """Write every table under ``out``. Table ``i`` of :data:`TABLES`
    draws from its own stream ``[seed, i]``, which ``tenant.py`` reuses
    to rebuild single tables."""
    os.makedirs(out, exist_ok=True)
    n = row_counts(sf)
    for i, name in enumerate(TABLES):
        rng = np.random.default_rng([seed, i])
        pq.write_table(_gen_table(name, n, rng), os.path.join(out, f"{name}.parquet"))
