"""Seed-deterministic TPC-H-style tables for the benchmark's read workload.

Writes the ten tables the registered ``plans.*`` queries read (``region``
... ``embeddings``) as one parquet file each, with the column names,
types and value domains of the engine's test data. Rows per table scale
with ``sf`` like TPC-H (``sf=0.01`` gives 60,000 lineitems). Generation
is numpy + pyarrow only, so it costs no Spark job and the same
``(sf, seed)`` always gives byte-identical values.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
EMB_DIM = 64
EMB_CLUSTERS = 10


def _choice(rng: np.random.Generator, values, n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(base: dt.datetime, days: np.ndarray) -> pa.Array:
    us = int(base.timestamp() * 1_000_000) + days.astype(np.int64) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def documents_table(n: int, seed: int, first_id: int = 0) -> pa.Table:
    """``n`` documents of 10-100 words over the shared vocabulary."""
    rng = np.random.default_rng([seed, 7])
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    text = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(_choice(rng, LANGS, n), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    )


def embeddings_table(n: int, seed: int, first_id: int = 0) -> pa.Table:
    """``n`` unit vectors drawn around ten fixed cluster centres."""
    centres = np.random.default_rng(1234).normal(size=(EMB_CLUSTERS, EMB_DIM))
    rng = np.random.default_rng([seed, 11])
    label = rng.integers(0, EMB_CLUSTERS, n)
    vec = 0.15 * centres[label] + rng.normal(size=(n, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write all ten tables under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(500, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(_choice(rng, SEGMENTS, n_cust), pa.string()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    part_names = [
        f"{a} {b}"
        for a, b in zip(_choice(rng, PART_ADJ, n_part), _choice(rng, PART_NOUN, n_part))
    ]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(part_names, pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(_choice(rng, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(_choice(rng, ("F", "O", "P"), n_ord), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": _days(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc), order_day),
        "o_orderpriority": pa.array(_choice(rng, PRIORITIES, n_ord), pa.string()),
    })
    l_order = rng.integers(0, n_ord, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(_choice(rng, ("A", "N", "R"), n_line), pa.string()),
        "l_linestatus": pa.array(_choice(rng, ("F", "O"), n_line), pa.string()),
        "l_shipdate": _days(
            dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc),
            order_day[l_order] + rng.integers(1, 96, n_line),
        ),
    })
    evt_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    base_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(base_us + evt_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": pa.array(_choice(rng, EVENT_TYPES, n_evt), pa.string()),
        "value": pa.array(np.round(rng.exponential(20.0, n_evt) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    pq.write_table(documents_table(n_docs, seed), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings_table(n_docs, seed), os.path.join(out_dir, "embeddings.parquet"))
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_evt, "documents": n_docs, "embeddings": n_docs,
    }
