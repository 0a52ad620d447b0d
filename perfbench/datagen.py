"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``region`` ... ``embeddings``,
one parquet file each) with the same schemas and value domains as the
project's synthetic test fixtures (FIXTURES.md), at the sf0.01 row counts.
Every column is drawn from a ``numpy`` generator seeded by ``--seed``, so the
same seed writes byte-identical tables.

Value domains that queries filter or join on follow the fixtures: orders
dated 1995-01-01..2001-08-01, line items shipped 1995-01-02..2001-11-04, a
30-day event stream in January 2024, a 30-word document vocabulary with 5%
near-duplicate documents (a copy of another document plus the token
``dup``), and 64-d unit embeddings in ten weak clusters.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400 * 1_000_000


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    us = base + rng.integers(0, n_days + 1, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lengths]
    # 5% near-duplicates: another document's text with one token appended
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n))
        if j != i:
            texts[i] = texts[j] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    centers = rng.normal(size=(N_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    vecs = 0.15 * centers[labels] + rng.normal(size=(n, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def tables(seed: int) -> dict[str, pa.Table]:
    """The ten input tables for ``seed``, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = ROWS
    out = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"]), pa.string()),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": pa.array(
                [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n["part"])],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n["part"])]),
            "p_type": pa.array(rng.choice(PART_TYPES, n["part"]), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n["orders"]), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n["orders"])),
            "o_orderdate": _days("1995-01-01", 2404, rng, n["orders"]),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n["orders"]), pa.string()),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], n["lineitem"]), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n["lineitem"]).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n["lineitem"])),
            "l_discount": pa.array(rng.integers(0, 11, n["lineitem"]) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n["lineitem"]) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n["lineitem"]), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n["lineitem"]), pa.string()),
            "l_shipdate": _days("1995-01-02", 2498, rng, n["lineitem"]),
        },
        "events": {
            "event_id": pa.array(np.arange(n["events"]), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us").astype(np.int64)
                + np.sort(rng.integers(0, 30 * _DAY_US, n["events"])),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 150, n["events"]), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n["events"]), pa.string()),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n["events"]), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
        },
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return {name: pa.table(cols) for name, cols in out.items()}


def write_tables(seed: int, out_dir: str) -> str:
    """Write every table for ``seed`` as ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
