#!/usr/bin/env python3
"""Generate an sf1-shaped local soak dataset at .scratch/sf1/.

The driver's testdata tops out at sf0.1 (600k lineitem rows); the scale
soak (tools/soak_sf1.py) needs one more order of magnitude to turn the
100 TB plan arguments into measured scaling. No network in this
container (DuckDB's tpch extension cannot download), so:

- ``lineitem``: sf0.1 tiled 10x with per-tile key offsets — preserves
  the per-order line distribution and the order→part co-occurrence
  structure exactly (10 disjoint copies; parts/orders universes scale
  10x like real dbgen).
- ``documents``: 50,000 docs regenerated with the driver corpus's
  observed traits (31-word vocab, 5 langs x 20 sources, empirical
  words-per-doc distribution bootstrapped from sf0.1) plus implanted
  near-dups (5% perturbed copies, 0.2% exact) matching the sf0.01
  near-dup density the oracle-checked queries see.
- ``embeddings``: 8,000 vectors continuing the driver's sub-linear
  scaling (500 → 2,000 → 8,000), 64-dim float32 in 10 label clusters,
  3% implanted near-identical vectors (q53's target structure).

Deterministic (numpy PCG64 seed 42). Output is soak-only scratch data —
never used by correctness gates.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np

OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch", "sf1")
SRC = "/root/testdata/sf0.1"


def gen_lineitem(con: duckdb.DuckDBPyConnection) -> None:
    con.execute(
        f"""
        COPY (
            SELECT l_orderkey + t.i * 150000 AS l_orderkey,
                   l_partkey + t.i * 20000 AS l_partkey,
                   l_suppkey + t.i * 1000 AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM '{SRC}/lineitem.parquet', (SELECT unnest(generate_series(0, 9)) AS i) t
        ) TO '{OUT}/lineitem.parquet' (FORMAT parquet)
        """
    )


def gen_events(con: duckdb.DuckDBPyConnection) -> None:
    """events tiled 10x with per-tile user/event offsets and a per-tile
    +7h stagger so per-user timelines grow denser (the funnel/retention
    stress) while first-event cohorts stay spread across weeks."""
    con.execute(
        f"""
        COPY (
            SELECT event_id + t.i * 1000000 AS event_id,
                   ts + INTERVAL (t.i * 7) HOUR AS ts,
                   user_id + (t.i % 5) * 1000 AS user_id,
                   event_type, value, props
            FROM '{SRC}/events.parquet', (SELECT unnest(generate_series(0, 9)) AS i) t
        ) TO '{OUT}/events.parquet' (FORMAT parquet)
        """
    )


def gen_orders(con: duckdb.DuckDBPyConnection) -> None:
    """orders tiled 10x with per-tile key offsets and a per-tile +3 day
    date stagger — keeps the priority mix and the historical/delta date
    split shape for the incremental-maintenance soaks (r15/r20)."""
    con.execute(
        f"""
        COPY (
            SELECT o_orderkey + t.i * 150000 AS o_orderkey,
                   o_custkey + (t.i % 5) * 15000 AS o_custkey,
                   o_orderstatus, o_totalprice,
                   o_orderdate + INTERVAL (t.i * 3) DAY AS o_orderdate,
                   o_orderpriority
            FROM '{SRC}/orders.parquet', (SELECT unnest(generate_series(0, 9)) AS i) t
        ) TO '{OUT}/orders.parquet' (FORMAT parquet)
        """
    )


def gen_dims(con: duckdb.DuckDBPyConnection) -> None:
    """Dimension tables sized to the fact-side key universes: orders
    spreads o_custkey over 5 tiles (x15000), lineitem spreads l_partkey
    over 10 tiles (x20000) and l_suppkey over 10 tiles (x1000) — so
    customer tiles 5x and part/supplier tile 10x, keeping every FK
    resolvable. nation/region copy through (nationkeys stay 0-24)."""
    con.execute(
        f"""
        COPY (
            SELECT c_custkey + t.i * 15000 AS c_custkey,
                   c_name || '#' || t.i AS c_name,
                   c_nationkey, c_acctbal, c_mktsegment
            FROM '{SRC}/customer.parquet', (SELECT unnest(generate_series(0, 4)) AS i) t
        ) TO '{OUT}/customer.parquet' (FORMAT parquet)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT p_partkey + t.i * 20000 AS p_partkey,
                   p_name || ' t' || t.i AS p_name,
                   p_brand, p_type, p_size, p_retailprice
            FROM '{SRC}/part.parquet', (SELECT unnest(generate_series(0, 9)) AS i) t
        ) TO '{OUT}/part.parquet' (FORMAT parquet)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT s_suppkey + t.i * 1000 AS s_suppkey,
                   s_name || '#' || t.i AS s_name,
                   s_nationkey, s_acctbal
            FROM '{SRC}/supplier.parquet', (SELECT unnest(generate_series(0, 9)) AS i) t
        ) TO '{OUT}/supplier.parquet' (FORMAT parquet)
        """
    )
    for t in ("nation", "region"):
        con.execute(f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO '{OUT}/{t}.parquet' (FORMAT parquet)")


def gen_documents(rng: np.random.Generator) -> None:
    src = duckdb.sql(
        f"SELECT text, len(string_split(text, ' ')) AS n_words FROM '{SRC}/documents.parquet'"
    ).fetchall()
    vocab = sorted({w for t, _ in src for w in t.split()})
    word_counts = np.array([n for _, n in src])
    n_docs = 50_000
    langs = ["de", "en", "es", "fr", "zh"]
    sources = [f"src{i}" for i in range(20)]
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.002:  # exact duplicate
            texts.append(texts[rng.integers(0, len(texts))])
        elif texts and r < 0.05:  # near-dup: perturb ~15% of words
            base = texts[rng.integers(0, len(texts))].split()
            k = max(1, int(0.15 * len(base)))
            for j in rng.integers(0, len(base), size=k):
                base[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(base))
        else:
            n = int(word_counts[rng.integers(0, len(word_counts))])
            texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), size=n)))
    tbl = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [langs[int(j)] for j in rng.integers(0, len(langs), size=n_docs)],
        "source": [sources[int(j)] for j in rng.integers(0, len(sources), size=n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(tbl), f"{OUT}/documents.parquet")


def gen_embeddings(rng: np.random.Generator) -> None:
    n, dim, labels = 8_000, 64, 10
    centers = rng.normal(0, 1.0, size=(labels, dim))
    lab = rng.integers(0, labels, size=n)
    vecs = centers[lab] + rng.normal(0, 0.35, size=(n, dim))
    # 3% near-identical pairs (the q53 near-dup structure)
    n_dup = int(0.03 * n)
    dup_to = rng.integers(0, n, size=n_dup)
    dup_at = rng.integers(0, n, size=n_dup)
    vecs[dup_at] = vecs[dup_to] + rng.normal(0, 0.005, size=(n_dup, dim))
    lab[dup_at] = lab[dup_to]
    import pyarrow as pa
    import pyarrow.parquet as pq

    arr = pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32()))
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": arr,
                "label": pa.array(lab.astype(np.int32)),
            }
        ),
        f"{OUT}/embeddings.parquet",
    )


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(42))
    con = duckdb.connect()
    gen_lineitem(con)
    gen_events(con)
    gen_orders(con)
    gen_dims(con)
    gen_documents(rng)
    gen_embeddings(rng)
    for t in (
        "lineitem", "events", "orders", "customer", "part", "supplier",
        "nation", "region", "documents", "embeddings",
    ):
        n = duckdb.sql(f"SELECT count(*) FROM '{OUT}/{t}.parquet'").fetchone()[0]
        print(f"{t}: {n} rows", file=sys.stderr)


if __name__ == "__main__":
    main()
