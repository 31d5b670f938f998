"""query_mix: registered queries over seeded catalog tables, one query per op.

The op set is fixed: relational and event-analytics queries (joins, windows,
as-of, rollups: Catalyst, codegen, scan and exchange work with no Python UDFs
or operator caches) plus corpus queries (MinHash/LSH dedup, embedding
similarity, co-occurrence graph: operator caches, eager planning probes and
Arrow pandas UDFs). The seed generates the tables. Each pass runs the
queries in a shuffled order, but the shuffles are the same in every run: the
order of the untimed set-up pass decides which code paths the JIT compiles
first, and with orders drawn from the seed one seed's median latency read
12-32% above the set median in three runs. Set-up runs one untimed pass;
the timed loop runs whole passes, so every run of every seed times the same
multiset of warm queries.

Each output is compared, after the timed loop, with the query's DuckDB oracle
using the normalization of ``tools/check_parity.py``.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pandas as pd

import tables
from harness import OpRecord, Workload

RELATIONAL = (
    "r39_time_features", "r46_rolling_spend", "v01_pricing_summary", "v04_priority_with_late_line",
    "v07_nation_revenue_rank", "q10_event_funnel", "q16_rolling_outliers", "v72_sessionization",
)
CORPUS = ("q47_minhash_lsh_pairs", "q53_embedding_near_dups", "q51_cosine_topk_block", "q25_also_bought")
#: generated table scale (lineitem rows = 6M x SF)
SF = 0.01
#: seeds the pass shuffles; fixed, so every run sees the same orders
ORDER_SEED = 0


def _rounding_flip(s: pd.Series, d: pd.Series) -> bool:
    """Float columns that differ only by summation order or by a rounding
    boundary flip of one unit in the second decimal."""
    if not (pd.api.types.is_float_dtype(s) and pd.api.types.is_float_dtype(d)):
        return False
    a, b = s.to_numpy(dtype=float), d.to_numpy(dtype=float)
    both_nan = np.isnan(a) & np.isnan(b)
    diff = np.abs(a - b)
    close = diff <= 1e-9 * np.maximum(np.abs(a), np.abs(b))
    two_dp = (np.abs(np.round(a, 2) - a) < 1e-9) & (np.abs(np.round(b, 2) - b) < 1e-9) & (diff <= 0.0100001)
    return bool(np.all(both_nan | close | two_dp))


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    from tools.check_parity import compare as exact_compare
    from tools.check_parity import normalize

    problems = exact_compare(name, spark_pdf, duck_pdf)
    if problems and all(p.startswith("value[") for p in problems):
        s, d = normalize(spark_pdf), normalize(duck_pdf)
        if all(s[c].equals(d[c]) or _rounding_flip(s[c], d[c]) for c in s.columns):
            return []
    return problems


class QueryWorkload(Workload):
    name = "query_mix"
    #: one untimed pass: every query is warm before the timed passes
    warmup_ops = len(RELATIONAL + CORPUS)

    def prepare(self, spark, work: str, seed: int) -> None:
        from fantasy_premier_league_spark.queries import all_queries

        self.spark = spark
        self.sf_dir = os.path.join(work, "tables")
        tables.generate(self.sf_dir, seed, sf=SF)
        registry = all_queries()
        self.queries = {n: registry[n] for n in RELATIONAL + CORPUS}
        self.rng = random.Random(ORDER_SEED)
        self.pass_order: list[str] = []
        self.oracle: dict[str, pd.DataFrame] = {}

    def start_timed(self) -> None:
        self.pass_order = []

    def at_pass_boundary(self) -> bool:
        return not self.pass_order

    def next_op(self):
        if not self.pass_order:
            self.pass_order = self.rng.sample(sorted(self.queries), len(self.queries))
        name = self.pass_order.pop()
        q = self.queries[name]
        return name, lambda: q.fn(self.spark, self.sf_dir).toPandas()

    def check(self, records: list[OpRecord]) -> None:
        from tools.check_parity import duck_connect

        con = duck_connect(self.sf_dir)
        try:
            for rec in records:
                if rec.error:
                    continue
                try:
                    if rec.name not in self.oracle:
                        self.oracle[rec.name] = con.execute(self.queries[rec.name].oracle).df()
                    rec.problems.extend(compare(rec.name, rec.output, self.oracle[rec.name]))
                except Exception as exc:  # noqa: BLE001 - an unverifiable output counts as wrong
                    rec.problems.append(f"check raised {type(exc).__name__}: {exc}")
        finally:
            con.close()

    def install_trace(self, tracer) -> None:
        from fantasy_premier_league_spark import catalog
        from fantasy_premier_league_spark.operators import cache, dedup, graph, similarity

        tracer.wrap_function(catalog, "load", "catalog.load")
        tracer.wrap_module(cache, "operators.cache")
        tracer.wrap_module(dedup, "operators.dedup")
        tracer.wrap_module(similarity, "operators.similarity")
        tracer.wrap_module(graph, "operators.graph")
        self.queries = {n: q.__class__(q.name, tracer.wrap(q.fn, "queries.plan"), q.oracle, q.doc, q.tags)
                        for n, q in self.queries.items()}

    def result_rows(self, rec: OpRecord) -> int:
        return len(rec.output) if rec.output is not None else 0
