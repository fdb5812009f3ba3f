"""Seeded inputs of the ``registry`` workload: the ten tables every
registered query reads (see ``sentinela_py_spark/tables.py``), with the
columns, types and value domains of the project's synthetic test data,
written as one parquet file per table. ``scale`` 1 gives the smallest
test size (6,000 lineitem rows)."""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "the a fast slow big small data table row column key value join merge sort "
    "hash scan filter group agg order line part customer query spark stream batch "
    "window vector"
).split()
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
_ADJ = ("cold", "small", "large", "blue", "old", "new", "hot")
_NOUN = ("widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear")
_EVENTS = ("click", "purchase", "error", "signup", "view")
_LANGS = ("en", "fr", "es", "zh", "de")


def _ts(days: np.ndarray, base: dt.datetime) -> pa.Array:
    us = (days * 86_400_000_000).astype("int64")
    return pa.array(np.datetime64(base, "us") + us.astype("timedelta64[us]"), pa.timestamp("us"))


def generate(seed: int, out_dir: str, scale: int = 1) -> dict[str, int]:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_orders, n_items = 1500 * scale, 6000 * scale
    n_events, n_docs, n_vecs = 1000 * scale, 500 * scale, 500 * scale
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"{rng.choice(_ADJ)} {rng.choice(_NOUN)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1 % 100, 2),
        }
    )
    order_day = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": _ts(order_day.astype("float64"), dt.datetime(1995, 1, 1)),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )
    l_order = rng.integers(0, n_orders, n_items)
    qty = rng.integers(1, 51, n_items).astype("float64")
    ship = order_day[l_order] + rng.integers(1, 122, n_items)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_items), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_items), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_items), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(20.0, 2100.0, n_items), 2),
            "l_discount": rng.integers(0, 11, n_items) / 100.0,
            "l_tax": rng.integers(0, 9, n_items) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_items),
            "l_linestatus": rng.choice(["F", "O"], n_items),
            "l_shipdate": _ts(ship.astype("float64"), dt.datetime(1995, 1, 1)),
        }
    )
    ev_days = np.sort(rng.uniform(0, 30, n_events))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(range(n_events), pa.int64()),
            "ts": _ts(ev_days, dt.datetime(2024, 1, 1)),
            "user_id": pa.array(rng.integers(0, 15 * scale, n_events), pa.int64()),
            "event_type": rng.choice(_EVENTS, n_events),
            "value": np.round(rng.uniform(1.0, 330.0, n_events), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.06:
            texts.append(texts[int(rng.integers(0, i))] + " dup")  # planted near copy
        else:
            words = rng.choice(_WORDS, int(rng.integers(8, 90)))
            texts.append(" ".join(words)[: int(rng.integers(40, 560))])
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_vecs), pa.int64()),
            "embedding": pa.array(vecs.astype("float32").tolist(), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
