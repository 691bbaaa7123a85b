"""Seeded synthetic input tables for the benchmark.

Writes the ten TPC-H-shaped Parquet files the program reads (orders,
lineitem, customer, supplier, nation, region, part, events, documents,
embeddings) with the same column names and physical types as the
repository's testdata (TESTDATA.md), so every loader path (including the µs NTZ timestamp
probe) runs as it does on real inputs. The same seed gives byte-identical
tables; nothing is read from outside the output directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the repository's sf0.1 testdata (TESTDATA.md): 150k
# orders, about 600k line items, 100k events.
N_ORDERS = 150_000
N_CUSTOMERS = 15_000
N_SUPPLIERS = 1_000
N_PARTS = 20_000
N_EVENTS = 100_000
N_USERS = 3_000
N_DOCS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": _money(rng, N_CUSTOMERS, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng, N_SUPPLIERS, -999.99, 9999.99),
    })
    adjectives = ["small", "red", "blue", "hot", "green", "big", "old", "new"]
    nouns = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(N_PARTS, dtype=np.int64),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, N_PARTS), rng.integers(0, 8, N_PARTS))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PARTS)],
        "p_type": rng.choice(
            ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"], N_PARTS
        ),
        "p_size": pa.array(rng.integers(1, 51, N_PARTS), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(N_PARTS) * 0.1, 2),
    })

    order_days = rng.integers(0, 2405, N_ORDERS)  # 1995-01-01 .. 2001-08
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(STATUSES, N_ORDERS),
        "o_totalprice": _money(rng, N_ORDERS, 1000.0, 500000.0),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _US_PER_DAY),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })

    lines_per_order = rng.integers(1, 8, N_ORDERS)
    l_orderkey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines_per_order)
    n_lines = len(l_orderkey)
    l_linenumber = np.concatenate([np.arange(1, k + 1) for k in lines_per_order])
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, N_PARTS, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n_lines).astype(np.int64),
        "l_linenumber": pa.array(l_linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _ts(
            _EPOCH_1995
            + (np.repeat(order_days, lines_per_order) + rng.integers(1, 122, n_lines))
            * _US_PER_DAY
        ),
    })

    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, N_EVENTS))
    tables["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + ev_us),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    texts = [
        " ".join(rng.choice(VOCAB, int(k)))
        for k in rng.integers(10, 100, N_DOCS)
    ]
    # planted near-duplicates, so the dedup operators have work to find
    for i in range(0, N_DOCS - 1, 25):
        texts[i + 1] = texts[i] + " dup"
    tables["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    vecs = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
    })

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
