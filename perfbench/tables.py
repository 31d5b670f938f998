"""Seeded generator for the ten catalog tables the query inventory reads.

Produces the same schemas and value domains as the TPC-H-ish test tables
the queries were written against (``region nation customer supplier part
orders lineitem events documents embeddings``), one parquet file each, at a
small scale factor so one query is overhead- and plan-bound rather than
disk-bound. The corpus tables carry planted structure the dedup and
similarity operators look for: exact and ~15%-perturbed duplicate
documents, and near-identical embedding vectors.

The same ``seed`` always gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")


def _days(rng: np.random.Generator, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, size=n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str, seed: int, *, sf: float = 0.01) -> None:
    """Write the ten tables under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 20), int(200_000 * sf)
    n_orders, n_lines = int(1_500_000 * sf), int(6_000_000 * sf)
    n_events, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 50)
    n_docs, n_vecs = max(int(50_000 * sf), 200), max(int(50_000 * sf), 200)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": rng.uniform(-999.99, 9999.99, n_cust).round(2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, len(SEGMENTS), n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": rng.uniform(-999.99, 9999.99, n_supp).round(2),
    })
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (900.0 + (np.arange(n_part) % 1000) * 0.1).round(2),
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": rng.uniform(1500.0, 500_000.0, n_orders).round(2),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_orders),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_orders)],
    })
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_lines).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": (qty * rng.uniform(18.0, 2100.0, n_lines)).round(2),
        "l_discount": (rng.integers(0, 11, n_lines) / 100.0).round(2),
        "l_tax": (rng.integers(0, 9, n_lines) / 100.0).round(2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_lines)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_lines)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_lines),
    })
    # events: ids follow time order over January 2024, microsecond stamps
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_events))
    _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": rng.uniform(0.01, 490.0, n_events).round(2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts = planted_corpus(rng, n_docs)
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=[0.14, 0.44, 0.14, 0.14, 0.14])],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_vecs)
    vecs = centers[label] + rng.normal(0.0, 0.35, (n_vecs, 64))
    n_dup = max(int(0.03 * n_vecs), 3)
    dup_to, dup_at = rng.integers(0, n_vecs, n_dup), rng.integers(0, n_vecs, n_dup)
    vecs[dup_at] = vecs[dup_to] + rng.normal(0.0, 0.005, (n_dup, 64))
    label[dup_at] = label[dup_to]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def random_text(rng: np.random.Generator) -> str:
    n = int(rng.integers(10, 101))
    return " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n))


def perturb(rng: np.random.Generator, text: str, share: float = 0.15) -> str:
    words = text.split()
    for j in rng.integers(0, len(words), max(1, int(share * len(words)))):
        words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(words)


def planted_corpus(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` documents: ~1% exact copies and ~5% lightly perturbed copies of
    earlier documents, the rest fresh."""
    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < 0.01:
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.06:
            texts.append(perturb(rng, texts[int(rng.integers(0, len(texts)))]))
        else:
            texts.append(random_text(rng))
    return texts
