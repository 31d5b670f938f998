"""Global ranking without a single-partition window (SURVEY §2.5 W4 note).

``row_number() over (order by ...)`` funnels every row through one task —
fine for the 20-row league table, fatal at 100 TB. The scalable two-phase
form, expressed entirely in DataFrame ops (no Python row round-trip):

1. range-partition sort on the rank keys (Spark's ``orderBy`` — each
   partition holds a contiguous key range),
2. per-partition row counts via ``spark_partition_id()`` + a tiny groupBy
   (map-side partial agg collapses each partition to ONE row),
3. cumulative offsets over that numPartitions-row frame (the only
   single-partition window runs over ~tens of rows, not the data),
4. rank = broadcast-joined partition offset + partition-local
   ``row_number()`` (no cross-partition shuffle: the window partitions by
   the physical partition id the sort already established).

The sorted frame feeds both the count branch and the rank branch of one
lazy plan; Spark's exchange reuse (``spark.sql.exchange.reuse``, default
on, honored under AQE) evaluates the expensive range shuffle once and
guarantees both branches see the same sampled range boundaries.

The same numPartitions-row frame carries grand totals for free — which is
how :func:`global_ntile` (closed-form SQL ntile) and
:func:`global_cumsum`'s ``total_out`` avoid a THIRD aggregate branch over
the data (each extra branch is another textual subtree in the compiled
plan even when runtime exchange reuse dedups the work).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .cache import tracked_local_checkpoint

def _all_rows() -> "Window":
    """Window over the whole numPartitions-row offsets frame (tiny by
    construction) — how grand totals ride along without a new branch.
    Built lazily: F.lit needs an active SparkContext, so this cannot be
    a module-level constant (imports happen before any session exists)."""
    return Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )


def global_cumsum(
    df: DataFrame,
    order: list[Column],
    value: Column,
    *,
    out: str = "cumsum",
    total_out: str | None = None,
) -> DataFrame:
    """Running sum of ``value`` under a total order, without funnelling the
    data through one partition (the prefix-sum twin of :func:`global_rank`).

    Same two-phase shape: range sort on the order keys, per-partition
    totals collapsed map-side to one row each, cumulative offsets over the
    numPartitions-row frame (the only single-partition window — tens of
    rows), then partition-local running sum + broadcast offset. The value
    expression is summed as-is, so exact types (DECIMAL, integers) stay
    exact — callers needing bit-identical totals across engines should pass
    a decimal-cast column, as with any Spark sum.

    ``total_out`` additionally attaches the grand total of ``value`` as a
    column — computed on the same tiny offsets frame, so callers computing
    shares (running/total) don't need a separate aggregate branch over the
    data.
    """
    sorted_df = (
        df.orderBy(*order)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__v", value)
    )
    # sorted_df feeds BOTH the offsets branch and the final join: without
    # materialization the whole upstream (range sort + whatever produced
    # df) executes once per branch — runtime exchange reuse dedups only
    # the exchange write (q27 profile: the lineitem scan+aggregate
    # subtree appeared twice). RDD-layer blocks keep partition order, so
    # __pid stays consistent across both consumers.
    #
    # NOT lazy (ADVICE r13): under AQE the materialize's toRdd conversion
    # finalizes the physical plan and EXECUTES the upstream range-sort
    # stages at operator-BUILD time — composing this operator into a plan
    # that is never acted on still pays (and pins) the sort, and the
    # returned frame inherits the checkpoint contract (re-collecting it
    # after release_operator_caches cannot recompute). The query-per-call
    # registry consumes every build immediately, so the eager build is
    # the intended trade here; callers composing speculatively should
    # compute the rank column only on the path that runs.
    sorted_df = tracked_local_checkpoint(sorted_df, eager=False)

    sizes = sorted_df.groupBy("__pid").agg(F.sum("__v").alias("__s"))
    cum = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    cols = ["__pid", F.sum("__s").over(cum).alias("__off")]
    if total_out is not None:
        cols.append(F.sum("__s").over(_all_rows()).alias(total_out))
    offsets = sizes.select(*cols)

    local = (
        Window.partitionBy("__pid").orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    )
    running = F.sum("__v").over(local)
    return (
        sorted_df.join(F.broadcast(offsets), "__pid")
        .withColumn(out, running + F.coalesce(F.col("__off"), F.lit(0)))
        .drop("__pid", "__off", "__v")
    )


def global_rank(df: DataFrame, order: list[Column], *, out: str = "rank") -> DataFrame:
    """Dense 1-based global row numbering under a total order (ties must be broken
    by the caller's ``order`` — append a unique key for determinism).

    Pure-DataFrame two-phase rank: one range sort, zero Python, no
    driver-side collect. Plan contains no BatchEvalPython / PythonRDD
    node (asserted in tests/test_crosschecks.py).
    """
    sorted_df = tracked_local_checkpoint(
        df.orderBy(*order).withColumn("__pid", F.spark_partition_id()),
        eager=False,
    )  # two consumers (offsets + final join); see global_cumsum

    # numPartitions rows after map-side combine — tiny by construction.
    sizes = sorted_df.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    cum = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "__pid",
        (F.coalesce(F.sum("__n").over(cum), F.lit(0)) + F.lit(1)).alias("__off"),
    )

    local = Window.partitionBy("__pid").orderBy(*order)
    return (
        sorted_df.join(F.broadcast(offsets), "__pid")
        .withColumn(out, (F.row_number().over(local) - 1 + F.col("__off")).cast("long"))
        .drop("__pid", "__off")
    )


def global_ntile(
    df: DataFrame, order: list[Column], n_tiles: int, *, out: str = "tile"
) -> DataFrame:
    """SQL ``ntile(n)`` under a total order without the single-partition
    window: two-phase rank plus ntile's closed form.

    With N rows, q = N div n and r = N mod n, SQL ntile gives the first r
    tiles q+1 rows and the rest q, so rank rk (1-based) maps to
    ``ceil(rk/(q+1))`` inside the first r*(q+1) rows and
    ``r + ceil((rk - r*(q+1))/q)`` after — pinned against ``F.ntile``
    itself in tests/test_crosschecks.py (sizes hitting N<n, N%n!=0,
    ties). N rides on the numPartitions-row offsets frame, so the plan
    has exactly the two branches of :func:`global_rank` — no third
    count branch over the data.
    """
    sorted_df = tracked_local_checkpoint(
        df.orderBy(*order).withColumn("__pid", F.spark_partition_id()),
        eager=False,
    )  # two consumers (offsets + final join); see global_cumsum

    sizes = sorted_df.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    cum = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sizes.select(
        "__pid",
        (F.coalesce(F.sum("__n").over(cum), F.lit(0)) + 1).alias("__off"),
        F.sum("__n").over(_all_rows()).alias("__N"),
    )

    local = Window.partitionBy("__pid").orderBy(*order)
    rk = F.row_number().over(local) - 1 + F.col("__off")
    qq = F.floor(F.col("__N") / n_tiles)
    rr = F.col("__N") % n_tiles
    head = rr * (qq + 1)
    tile = (
        F.when(rk <= head, F.ceil(rk / (qq + 1)))
        # unreachable when qq == 0 (then head == __N >= rk); greatest()
        # keeps the divisor legal under ANSI evaluation anyway
        .otherwise(rr + F.ceil((rk - head) / F.greatest(qq, F.lit(1))))
        .cast("int")
    )
    return (
        sorted_df.join(F.broadcast(offsets), "__pid")
        .withColumn(out, tile)
        .drop("__pid", "__off", "__N")
    )
