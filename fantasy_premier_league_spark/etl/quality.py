"""Data-quality constraint operators (SURVEY §2.9, Q1-Q5).

The reference enforces PK uniqueness and not-null PKs as runtime checks on
every transform run (etl/transform.py:14-56, etl/run_transform.py:462-506),
with a raise-vs-warn switch. Spark has no constraint enforcement, so these
are deliberate actions. :func:`run_catalog_checks` evaluates every table's
unique and not-null PK checks in one fused action: a union of per-table
``(table, key encoding, any-null flag)`` projections, one
``groupBy(table, key)``, one per-table roll-up and one collect of at most
one row per table. The same roll-up counts each table's rows, which every
result carries as ``rows``, so a caller needs no further count job. The
single-table checks are the same action over one table.
"""

from __future__ import annotations

import logging
import warnings
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


class DataValidationError(ValueError):
    """A PK constraint failed and raise_errors was set (Q3)."""


@dataclass(frozen=True)
class CheckResult:
    table: str
    check: str
    ok: bool
    detail: str = ""
    rows: int | None = None  # rows in the checked table


def _fail(result: CheckResult, raise_errors: bool) -> CheckResult:
    msg = f"{result.table}: {result.check} failed — {result.detail}"
    if raise_errors:
        raise DataValidationError(msg)
    warnings.warn(msg, stacklevel=4)
    log.warning(msg)
    return result


def _pk_stats(tables: list[tuple[DataFrame, list[str]]]) -> list[tuple[int, int, int, int]]:
    """Per table, in order: (duplicated key groups, rows in them, rows with
    a null PK level, rows), computed for every table in one action.

    Each table projects to (table index, key, any-null flag) and the
    projections are unioned, so one groupBy serves all tables. The key is
    the PK tuple cast to strings and written as JSON: injective per table
    (the field names are fixed, the string cast keeps full timestamp and
    double precision, a null level is an omitted field), and null levels
    group together exactly as ``groupBy(*pk)`` groups them.
    """
    if not tables:
        return []
    parts = []
    for i, (df, pk) in enumerate(tables):
        any_null = reduce(lambda a, b: a | b, [F.col(c).isNull() for c in pk])
        parts.append(df.select(
            F.lit(i).alias("t"),
            F.to_json(F.struct(*[F.col(c).cast("string").alias(c) for c in pk])).alias("k"),
            any_null.alias("null_pk"),
        ))
    per_key = reduce(DataFrame.unionAll, parts).groupBy("t", "k").agg(
        F.count(F.lit(1)).alias("n"), F.max("null_pk").alias("null_pk")
    )
    dup = F.col("n") > 1
    rows = per_key.groupBy("t").agg(
        F.count(F.when(dup, 1)).alias("groups"),
        F.coalesce(F.sum(F.when(dup, F.col("n"))), F.lit(0)).alias("rows"),
        F.coalesce(F.sum(F.when(F.col("null_pk"), F.col("n"))), F.lit(0)).alias("nulls"),
        F.sum("n").alias("total"),
    ).collect()
    by_table = {r["t"]: (r["groups"], r["rows"], r["nulls"], r["total"]) for r in rows}
    return [by_table.get(i, (0, 0, 0, 0)) for i in range(len(tables))]


def _unique_result(table: str, groups: int, dup_rows: int, total: int, raise_errors: bool) -> CheckResult:
    if groups:
        return _fail(
            CheckResult(table, "unique_pk", False, f"{groups} duplicated keys over {dup_rows} rows", rows=total),
            raise_errors,
        )
    return CheckResult(table, "unique_pk", True, rows=total)


def _notnull_result(table: str, nulls: int, total: int, raise_errors: bool) -> CheckResult:
    if nulls:
        return _fail(
            CheckResult(table, "notnull_pk", False, f"{nulls} rows with null PK", rows=total),
            raise_errors,
        )
    return CheckResult(table, "notnull_pk", True, rows=total)


def check_unique_pk(df: DataFrame, pk: list[str], table: str, *, raise_errors: bool = True) -> CheckResult:
    """Q1: no duplicate PK tuples (≙ dval_unique_index). Diagnostic counts
    come from one groupBy rather than count-vs-distinct-count twice."""
    groups, dup_rows, _, total = _pk_stats([(df, pk)])[0]
    return _unique_result(table, groups, dup_rows, total, raise_errors)


def check_notnull_pk(df: DataFrame, pk: list[str], table: str, *, raise_errors: bool = True) -> CheckResult:
    """Q2: no nulls in any PK level (≙ dval_notnull_index)."""
    _, _, nulls, total = _pk_stats([(df, pk)])[0]
    return _notnull_result(table, nulls, total, raise_errors)


def validated_join(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str = "left",
    *,
    validate: str = "many_to_one",
    right_keys: list[str] | None = None,
    left_keys: list[str] | None = None,
    raise_errors: bool = True,
) -> DataFrame:
    """J6/J7: pandas ``merge(validate=...)`` semantics — assert join-key
    cardinality *before* joining (EDA.ipynb § 33,40,65: validated m:1 and
    1:1 merges). ``validate`` in {'many_to_one', 'one_to_one'}; the right
    side must always be unique on the key, 1:1 additionally checks the
    left. The checks are eager actions; run them on cached inputs
    when validating many joins from one plan.

    ``on`` may be a column name / list of names (keys inferred) or an
    arbitrary join Column — then ``right_keys`` (and ``left_keys`` for
    1:1) must name the key columns to validate.
    """
    if validate not in ("many_to_one", "one_to_one"):
        raise ValueError(f"unsupported validate mode {validate!r}")
    if isinstance(on, str):
        rk = lk = [on]
    elif isinstance(on, (list, tuple)) and all(isinstance(c, str) for c in on):
        rk = lk = list(on)
    else:
        if right_keys is None:
            raise ValueError(
                "validated_join with a Column condition needs right_keys= "
                "(and left_keys= for one_to_one) naming the join keys to check"
            )
        rk, lk = list(right_keys), list(left_keys or [])
    check_unique_pk(right, rk, "<join-right>", raise_errors=raise_errors)
    if validate == "one_to_one":
        if not lk:
            raise ValueError("one_to_one with a Column condition needs left_keys=")
        check_unique_pk(left, lk, "<join-left>", raise_errors=raise_errors)
    return left.join(right, on, how)


def run_catalog_checks(
    tables: dict[str, DataFrame], pks: dict[str, list[str]], *, raise_errors: bool = True
) -> list[CheckResult]:
    """Q1+Q2 across the whole catalog (≙ run_transform.py:462-506), in one
    action. Results come in catalog order, unique before not-null per
    table; with ``raise_errors`` the first failure in that order raises."""
    names = list(tables)
    stats = _pk_stats([(tables[name], pks[name]) for name in names])
    results = []
    for name, (groups, dup_rows, nulls, total) in zip(names, stats):
        results.append(_unique_result(name, groups, dup_rows, total, raise_errors))
        results.append(_notnull_result(name, nulls, total, raise_errors))
    return results
