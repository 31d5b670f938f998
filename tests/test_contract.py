"""Driver-contract regression: every registered query runs at sf0.001,
oracles align with queries, and the entry smoke holds — the cheap local
stand-in for the driver's t1/t2 gates."""

from __future__ import annotations

import inspect
import re

import pytest

import __spark_entry__ as E
from fantasy_premier_league_spark.operators.cache import release_operator_caches
from tools.check_parity import compare, duck_connect

SF = "/root/testdata/sf0.001"
# a call to one of the 8 sketch operators of operators/dedup.py
_CALLS_SKETCH = re.compile(
    r"\b(?:containment_sketch_arrays|containment_lsh_pairs|minhash_signatures(?:_from_arrays)?"
    r"|minhash_dedup_pairs|minhash_incremental_pairs|simhash(?:_near_dup_pairs)?)\("
)
SKETCH_QUERIES = [n for n, fn in E.queries().items() if _CALLS_SKETCH.search(inspect.getsource(fn))]


def test_contract_shape():
    qs, oracles = E.queries(), E.oracle_sql()
    assert len(qs) >= 51
    assert set(oracles) <= set(qs)
    assert len(oracles) >= 44


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert df.schema == E.entry(spark).schema  # stable across calls


@pytest.mark.parametrize("name", sorted(E.queries()))
def test_every_query_runs(spark, name):
    df = E.queries()[name](spark, SF)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0
    assert len(set(df.columns)) == len(df.columns)  # no duplicate output names


def test_sketch_queries_all_have_oracles():
    assert len(SKETCH_QUERIES) >= 12, SKETCH_QUERIES
    assert set(SKETCH_QUERIES) <= set(E.oracle_sql())


@pytest.mark.parametrize("name", SKETCH_QUERIES)
def test_sketch_query_matches_oracle(spark, name):
    """Pins the values, including the md5-derived hash the oracles replay."""
    try:
        spark_pdf = E.queries()[name](spark, SF).toPandas()
    finally:
        release_operator_caches()
    with duck_connect(SF) as con:
        duck_pdf = con.execute(E.oracle_sql()[name]).df()
    assert compare(name, spark_pdf, duck_pdf) == []
