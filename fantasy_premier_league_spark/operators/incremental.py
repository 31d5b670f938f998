"""Incremental (algebraic) aggregate maintenance — merge partial
aggregates instead of re-scanning history.

The pattern behind every incrementally-maintained rollup / materialized
view at warehouse scale: keep per-key ALGEBRAIC partial states
(count, sum, min, max — each mergeable by an associative+commutative
combine), and fold each new delta batch into the stored state with a
state-sized union+groupBy. The 100 TB property is that maintenance cost
is O(|delta| + |state|), never O(|history|): the raw historical rows are
read exactly once, ever. Derived metrics that are NOT algebraic (avg,
range) are computed at read time from the merged state (q13) —
the classic partial-aggregate decomposition Spark itself uses for
map-side combine (partial_sum/partial_count under HashAggregate).

Reference analogue: the reference recomputes its summary tables from the
full event log on every run (etl/run_transform.py league-table rebuild);
this operator family is the incremental form of the same aggregates.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the mergeable state columns every partial-aggregate frame carries
STATE_COLS = ("cnt", "sum_v", "min_v", "max_v")


def partial_aggs(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Per-key algebraic state over one batch: (keys, cnt, sum, min, max).

    One shuffle with map-side partial aggregation — this is the only
    operation that ever touches raw rows.
    """
    v = F.col(value_col)
    return df.groupBy(*keys).agg(
        F.count(v).alias("cnt"),
        F.sum(v).alias("sum_v"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    )


def merge_partial_aggs(*parts: DataFrame) -> DataFrame:
    """Combine partial states by key: counts/sums add, min/max fold.

    Input frames must share (keys..., cnt, sum_v, min_v, max_v) schemas.
    Cost is state-sized: one union (narrow) + one groupBy shuffle on the
    keys — the delta-maintenance step. Associativity means any merge
    tree (per-hour → per-day → total) yields identical state.
    """
    if not parts:
        raise ValueError("merge_partial_aggs needs at least one partial frame")
    keys = [c for c in parts[0].columns if c not in STATE_COLS]
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    return unioned.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def partial_distinct_state(
    df: DataFrame, keys: list[str], value_col: str, *, lg_k: int = 12
) -> DataFrame:
    """Per-key mergeable DISTINCT-COUNT state (Apache DataSketches HLL via
    ``hll_sketch_agg``) — the non-trivial member of the incremental
    family: count/sum/min/max merge with arithmetic, COUNT DISTINCT does
    not (|A ∪ B| != |A| + |B|), so an incrementally-maintained distinct
    requires a sketch whose union is exact over its register state.

    Binary sketch column ``hll_v`` is 2^lg_k registers (~4 KB at the
    default): per-key state is constant-size no matter how many raw rows
    fold in. Same one-shuffle shape as :func:`partial_aggs`.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(int(lg_k))).alias("hll_v"),
        F.count(value_col).alias("cnt"),
    )


def merge_distinct_state(*parts: DataFrame) -> DataFrame:
    """Combine distinct-count states by key: HLL register union (exact —
    union(sketch(A), sketch(B)) has the SAME registers as sketch(A ∪ B),
    so estimates after any merge tree are identical, not just close) and
    row counts add. State-sized union + groupBy, like merge_partial_aggs.
    """
    if not parts:
        raise ValueError("merge_distinct_state needs at least one partial frame")
    keys = [c for c in parts[0].columns if c not in ("hll_v", "cnt")]
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    return unioned.groupBy(*keys).agg(
        F.hll_union_agg("hll_v").alias("hll_v"),
        F.sum("cnt").alias("cnt"),
    )


def estimate_distinct(state: DataFrame) -> DataFrame:
    """Read-time estimate from merged state: (keys..., cnt,
    approx_distinct). Relative error ~1.04/sqrt(2^lg_k) (~1.6% at the
    default lg_k=12)."""
    return state.select(
        *[c for c in state.columns if c not in ("hll_v", "cnt")],
        "cnt",
        F.hll_sketch_estimate("hll_v").alias("approx_distinct"),
    )


# --- KMV (k-minimum-values) distinct sketch: the PORTABLE member of the
#     sketch family. HLL state (above) is engine-specific register bytes;
#     a KMV sketch is just the k smallest 60-bit md5 hashes of the
#     distinct values, so an external SQL engine replays it bit-for-bit
#     (row_number() over hash order) and the value-hash oracle gate
#     applies to an *approximate* aggregate. Estimator: (k-1) * 2^60 /
#     h_(k) when the sketch is full, exact |hashes| otherwise
#     (Bar-Yossef et al. 2002; Beyer et al. SIGMOD'07 unbiased form).
#     Merge law is exact by construction: any hash in the global k
#     smallest is in its part's k smallest, so
#     kmv(A ∪ B) == k-smallest(kmv(A) ∪ kmv(B)), register-for-register —
#     same exactness property the HLL family pins by pytest, but here it
#     is visible to the DuckDB oracle too.

#: 2^60 as an exact double — the KMV hash range; 15 md5 hex chars.
KMV_RANGE = 1152921504606846976.0


def kmv_hash(col: F.Column) -> F.Column:
    """60-bit portable hash: ``('0x' || substr(md5(v::VARCHAR), 1, 15))::
    BIGINT`` in ANSI SQL — uniform on [0, 2^60)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


#: salt buckets for the two-phase top-k — output is salt-invariant
#: (the k smallest of per-bucket k-smallest IS the global k smallest),
#: so this is purely a parallelism knob.
KMV_SALT_BUCKETS = 32


def kmv_state(df: DataFrame, keys: list[str], value_col: str, *, k: int = 256) -> DataFrame:
    """Per-key KMV distinct-count state: (keys..., ``kmv_v`` = ascending
    array of the k smallest distinct value hashes).

    Plan shape at scale: one distinct on (keys, hash) — map-side partial
    — then a SALTED two-phase top-k. A single window per key would make
    one task sort every distinct value of that key (billions per key at
    100 TB, and group keys are few); instead phase 1 takes the k
    smallest within each of 32 salt buckets derived from the hash
    itself (parallel, each bucket ~1/32 of the key's values), and
    phase 2 takes the k smallest of the ≤ 32·k survivors. Top-k of
    per-bucket top-ks is exactly the global top-k, so the state is
    bit-identical to the single-window form and the salt count never
    appears in the result — the same decomposition W4 uses for global
    rank (operators/rank.py). Nothing unbounded crosses the final
    wire: the post-filter frame is at most k rows per key.
    """
    if k < 2:
        raise ValueError(f"kmv_state needs k >= 2, got {k}")
    from pyspark.sql import Window as W

    # null values hash to null, and Spark's ASC window ranks nulls FIRST:
    # an unfiltered null would take rank 1, displace a real hash from a
    # full sketch, then vanish in collect_list (which drops nulls) — a
    # silently short sketch, and a divergence from engines that rank
    # nulls last. Nulls carry no distinct-value information; drop them.
    hashed = (
        df.select(*keys, kmv_hash(F.col(value_col)).alias("__h"))
        .filter(F.col("__h").isNotNull())
        .distinct()
    )
    salted = hashed.withColumn("__salt", F.pmod(F.col("__h"), F.lit(KMV_SALT_BUCKETS)))
    w1 = W.partitionBy(*keys, "__salt").orderBy("__h")
    survivors = (
        salted.withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k)
        .drop("__rn", "__salt")
    )
    w2 = W.partitionBy(*keys).orderBy("__h")
    topk = survivors.withColumn("__rn", F.row_number().over(w2)).filter(F.col("__rn") <= k)
    return topk.groupBy(*keys).agg(F.array_sort(F.collect_list("__h")).alias("kmv_v"))


def merge_kmv_state(*parts: DataFrame, k: int = 256) -> DataFrame:
    """Combine KMV states by key: union the hash sets, keep the k
    smallest. Exact — the merged sketch is identical to the sketch built
    in one pass over the union, so maintenance order never changes the
    estimate. Cost is state-sized (≤ k hashes per key per part)."""
    if not parts:
        raise ValueError("merge_kmv_state needs at least one partial frame")
    from pyspark.sql import Window as W

    keys = [c for c in parts[0].columns if c != "kmv_v"]
    unioned = reduce(lambda a, b: a.unionByName(b), parts)
    hashes = unioned.select(*keys, F.explode("kmv_v").alias("__h")).distinct()
    w = W.partitionBy(*keys).orderBy("__h")
    topk = hashes.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k)
    return topk.groupBy(*keys).agg(F.array_sort(F.collect_list("__h")).alias("kmv_v"))


def estimate_kmv(state: DataFrame, *, k: int = 256, round_to: int = 4) -> DataFrame:
    """Read-time estimate from KMV state: (keys..., ``approx_distinct``).

    A sketch holding fewer than k hashes saw fewer than k distinct
    values — the estimate is exact. A full sketch estimates
    (k-1) * 2^60 / h_(k): the k-th smallest of n uniform hashes sits at
    ≈ k/n of the range. Relative error ~1/sqrt(k-2) (~6.3% at k=256).
    Arithmetic is pure IEEE-double (2^60 and k-1 are exactly
    representable), so an external engine reproduces it bit-for-bit
    before the final half-up round."""
    n = F.size("kmv_v")
    est = F.when(n < k, n.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_RANGE) / F.element_at("kmv_v", k).cast("double")
    )
    return state.select(
        *[c for c in state.columns if c != "kmv_v"],
        F.round(est, round_to).alias("approx_distinct"),
    )
