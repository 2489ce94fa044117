"""Seeded generator for the ten fixture tables the engine reads.

Writes ``<out_dir>/<table>.parquet`` for region, nation, customer, supplier,
part, orders, lineitem, events, documents and embeddings with the column
names, parquet types and value distributions of the fixtures in
FIXTURES.md: TPC-H-like row counts per scale factor, FK chains that always
resolve, duplicate ``(l_orderkey, l_linenumber)`` pairs, one row group per
file. ``documents`` comes from ``tools/gen_synth_docs.generate`` (planted
near-dup pairs). The same ``(sf, seed)`` always gives the same tables.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen_synth_docs import generate as generate_documents

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000
EPOCH = datetime(1970, 1, 1)


def epoch_us(d: datetime) -> int:
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _days(rng, start: datetime, n_days: int, n: int) -> pa.Array:
    us = epoch_us(start) + rng.integers(0, n_days, n) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(
        table, os.path.join(out_dir, f"{name}.parquet"),
        row_group_size=max(table.num_rows, 1_000_000),
    )


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write all ten tables at scale factor ``sf``; return rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 20)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 50)
    n_emb = max(int(20_000 * sf), 20)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1), pa.float64()
        ),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), pa.float64()),
        "o_orderdate": _days(rng, datetime(1995, 1, 1), 2405, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, n_line),
    })
    # events: increasing timestamps over 30 days, microsecond precision
    gaps = rng.exponential(30 * DAY_US / n_evt, n_evt).astype(np.int64)
    ts = epoch_us(datetime(2024, 1, 1)) + np.minimum(np.cumsum(gaps), 30 * DAY_US - 1)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()),
    })
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in tables.items():
        _write(out_dir, name, table)
    generate_documents(out_dir, n_docs, seed)
    rows = {name: t.num_rows for name, t in tables.items()}
    rows["documents"] = n_docs
    return rows
