"""Seeded tables for the curation-catalog workload.

Writes the ten parquet tables the query catalog reads (a TPC-H-shaped star
schema, an ``events`` stream, ``documents`` with planted near-duplicates and
clustered unit ``embeddings``), with the column names and physical types
the catalog and its DuckDB oracles expect.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge vector "
         "order line table data agg value key stream window spark a part group big "
         "sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
P_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64


@dataclass(frozen=True)
class Size:
    documents: int
    embeddings: int
    customers: int
    orders: int
    parts: int
    suppliers: int
    events: int


FULL = Size(documents=200, embeddings=64, customers=300, orders=3000,
            parts=400, suppliers=30, events=2000)
TOY = Size(documents=60, embeddings=64, customers=30, orders=200,
           parts=40, suppliers=10, events=200)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + (seconds * 1_000_000).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _days(base: str, days: np.ndarray) -> pa.Array:
    return _ts(base, days.astype(np.int64) * 86_400)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    n_dup = max(2, n // 20)
    for _ in range(n - n_dup):
        words = rng.choice(VOCAB, size=int(rng.integers(8, 80)))
        texts.append(" ".join(words))
    for _ in range(n_dup):   # near-duplicates: a copy with one word changed + marker
        words = texts[int(rng.integers(0, len(texts)))].split()
        words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
        texts.append(" ".join(words) + " dup")
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(n), type=pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, EMBED_DIM))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, EMBED_DIM))
    dups = rng.choice(n, size=max(2, n // 25), replace=False)
    vecs[dups[1:]] = vecs[dups[:-1]] + rng.normal(scale=0.01, size=(len(dups) - 1, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), type=pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, type=pa.int32()),
    })


def write_tables(out_dir: str, seed: int, size: Size) -> dict[str, int]:
    """Write every table under *out_dir*; returns row counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    s = size
    n_line = s.orders * 4
    li_order = np.sort(rng.integers(0, s.orders, n_line))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(s.customers), type=pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customers), type=pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, s.customers),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, s.customers)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(s.suppliers), type=pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
            "s_nationkey": pa.array(rng.integers(0, 25, s.suppliers), type=pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s.suppliers),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(s.parts), type=pa.int64()),
            "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, s.parts), rng.integers(0, 8, s.parts))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, s.parts)],
            "p_type": [P_TYPES[i] for i in rng.integers(0, 6, s.parts)],
            "p_size": pa.array(rng.integers(1, 51, s.parts), type=pa.int32()),
            "p_retailprice": np.round(900 + np.arange(s.parts) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(s.orders), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, s.customers, s.orders), type=pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, s.orders)],
            "o_totalprice": _money(rng, 1000, 500000, s.orders),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2400, s.orders)),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, s.orders)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(li_order, type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, s.parts, n_line), type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s.suppliers, n_line), type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2400, n_line)),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(s.events), type=pa.int64()),
            "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86_400, s.events))),
            "user_id": pa.array(rng.integers(0, max(10, s.events // 60), s.events),
                                type=pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, s.events)],
            "value": np.round(rng.exponential(50.0, s.events), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
        }),
        "documents": _documents(rng, s.documents),
        "embeddings": _embeddings(rng, s.embeddings),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
