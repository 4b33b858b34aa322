"""Seeded synthetic tables for the benchmark.

The schemas, key domains and literal vocabularies match the engine's
``catalog.yaml`` and the TPC-H-style fixtures its registry queries were
written against (region/nation names, ``Brand#N``, ``PROMO``, order
statuses, event types, the small shared document vocabulary), so every
query text the workloads send binds and returns rows.  Values are drawn
from ``numpy.random.Generator(PCG64(seed))``: the same seed and scale
always write byte-identical parquet files.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events"
    " documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch"
    " spark line sort window order data column join small customer query"
    " filter group big stream vector"
).split()

EVENTS_START = _dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
_DAY_US = 86_400_000_000
_ORDER_EPOCH = _dt.datetime(1995, 1, 1)


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (lineitem is drawn
    per order, about 4 lines each)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 8),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf),
        "users": max(int(15_000 * sf), 10),
        "documents": int(50_000 * sf),
        "embeddings": min(int(50_000 * sf), 2000),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(base: _dt.datetime, us: np.ndarray) -> pa.Array:
    epoch_us = int((base - _dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(us.astype(np.int64) + epoch_us, type=pa.timestamp("us"))


def _labels(prefix: str, keys: np.ndarray, width: int) -> pa.Array:
    return pa.array([f"{prefix}{k:0{width}d}" for k in keys.tolist()])


def build(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.Generator(np.random.PCG64(seed))
    n = sizes(sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = np.arange(n["customer"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(c, pa.int64()),
        "c_name": _labels("Customer#", c, 9),
        "c_nationkey": pa.array(rng.integers(0, 25, c.size), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c.size),
        "c_mktsegment": rng.choice(SEGMENTS, c.size),
    })
    s = np.arange(n["supplier"])
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(s, pa.int64()),
        "s_name": _labels("Supplier#", s, 9),
        "s_nationkey": pa.array(rng.integers(0, 25, s.size), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.size),
    })
    p = np.arange(n["part"])
    adj = rng.choice(PART_ADJ, p.size)
    noun = rng.choice(PART_NOUN, p.size)
    t["part"] = pa.table({
        "p_partkey": pa.array(p, pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj.tolist(), noun.tolist())]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p.size).tolist()]),
        "p_type": rng.choice(PART_TYPES, p.size),
        "p_size": pa.array(rng.integers(1, 51, p.size), pa.int32()),
        "p_retailprice": np.round(900.0 + (p % 1000) * 0.1, 2),
    })
    o = np.arange(n["orders"])
    odays = rng.integers(0, 2404, o.size)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(o, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], o.size), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], o.size),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o.size),
        "o_orderdate": _ts(_ORDER_EPOCH, odays * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, o.size),
    })
    per = rng.integers(1, 8, o.size)
    lk = np.repeat(o, per)
    ln = np.concatenate([np.arange(1, k + 1) for k in per.tolist()]) if o.size else lk
    qty = rng.integers(1, 51, lk.size).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], lk.size), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], lk.size), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, lk.size), 2),
        "l_discount": rng.integers(0, 11, lk.size) / 100.0,
        "l_tax": rng.integers(0, 9, lk.size) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], lk.size),
        "l_linestatus": rng.choice(["F", "O"], lk.size),
        "l_shipdate": _ts(
            _ORDER_EPOCH, (np.repeat(odays, per) + rng.integers(1, 122, lk.size)) * _DAY_US
        ),
    })
    t["events"] = build_events(rng, n["events"], n["users"])
    t["documents"] = _documents(rng, n["documents"])
    e = np.arange(n["embeddings"])
    vec = rng.standard_normal((e.size, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(e, pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, e.size), pa.int32()),
    })
    return t


def build_events(rng, n_events: int, n_users: int) -> pa.Table:
    """Events in event-time order: ``event_id`` follows ``ts``."""
    span = EVENTS_DAYS * _DAY_US
    us = np.sort(rng.integers(0, span, n_events))
    return pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(EVENTS_START, us),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(40.0, n_events) + 0.01, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()]),
    })


def _documents(rng, n_docs: int) -> pa.Table:
    words = rng.integers(8, 90, n_docs)
    texts = [" ".join(rng.choice(VOCAB, k).tolist()) for k in words.tolist()]
    d = np.arange(n_docs)
    return pa.table({
        "doc_id": pa.array(d, pa.int64()),
        "text": pa.array(texts),
        "lang": rng.choice(LANGS, n_docs),
        "source": pa.array([f"src{k % 20}" for k in d.tolist()]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def write(out_dir: str, tables: dict[str, pa.Table], skip=()) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        if name not in skip:
            pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
