"""Experimentation analytics: deterministic arm assignment and the
two-proportion z-test — the batch statistics behind A/B dashboards.

Reference analogue: the reference's notebook-side model evaluation
(accuracy deltas between heuristics) is the same compare-two-rates
shape; here it is a distributed aggregate over the event log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import portable_hash32
from .sessionize import EPOCH


def assign_arm(user_col: F.Column) -> F.Column:
    """Deterministic, engine-portable two-arm assignment: md5-derived hash
    of ('exp1' || user) mod 2. Stable across runs/engines (the same
    portable hash the sketch family uses), uniform enough for bucketing,
    and reproducible in the DuckDB oracle."""
    return portable_hash32(F.concat(F.lit("exp1"), user_col.cast("string"))) % 2


def ab_conversion_ztest(per_user: DataFrame) -> DataFrame:
    """Two-proportion z-test between arm 0 (control) and arm 1
    (treatment) over per-user conversion flags.

    Input: one row per user with an integer ``arm`` and a 0/1
    ``converted`` flag. The whole test is ONE conditional aggregation over the
    per-user frame plus closed-form math on the pooled rate — the event
    log is touched exactly once upstream to build that frame. ALWAYS
    returns one row: n/conversions/rate per arm, pooled z (4 dp — the
    rounding absorbs float-sum ordering across engines), and a
    |z| >= 1.96 significance flag. Degenerate pools (pooled rate 0 or
    1, or an empty arm) yield null rate/z and flag 0 instead of
    dividing by zero or returning an empty frame.
    """
    # ONE conditional aggregation, not two filtered aggregates crossJoined:
    # that shape returns ZERO rows when an arm is empty, breaking the
    # one-row contract below (and costs an extra scan)
    arm, conv = F.col("arm"), F.col("converted")
    row = per_user.agg(
        F.coalesce(F.sum(F.when(arm == 0, 1).otherwise(0)), F.lit(0)).alias("n_control"),
        F.coalesce(F.sum(F.when(arm == 0, conv).otherwise(0)), F.lit(0)).alias("conv_control"),
        F.coalesce(F.sum(F.when(arm == 1, 1).otherwise(0)), F.lit(0)).alias("n_treat"),
        F.coalesce(F.sum(F.when(arm == 1, conv).otherwise(0)), F.lit(0)).alias("conv_treat"),
    )
    p_a = F.when(F.col("n_control") > 0, F.col("conv_control") / F.col("n_control"))
    p_b = F.when(F.col("n_treat") > 0, F.col("conv_treat") / F.col("n_treat"))
    pooled = (F.col("conv_control") + F.col("conv_treat")) / (
        F.col("n_control") + F.col("n_treat")
    )
    se = F.when(
        (F.col("n_control") > 0) & (F.col("n_treat") > 0),
        F.sqrt(pooled * (1 - pooled) * (1 / F.col("n_control") + 1 / F.col("n_treat"))),
    )
    z = F.when(se > 0, F.round((p_b - p_a) / se, 4)).otherwise(
        F.lit(None).cast("double")
    )
    return row.select(
        "n_control",
        "conv_control",
        F.round(p_a, 6).alias("rate_control"),
        "n_treat",
        "conv_treat",
        F.round(p_b, 6).alias("rate_treat"),
        z.alias("zstat"),
        F.when(F.abs(z) >= 1.96, F.lit(1)).otherwise(F.lit(0)).alias("significant"),
    )


def growth_accounting(events: DataFrame) -> DataFrame:
    """Daily growth accounting: active users, new vs returning split, and
    the cumulative user curve — the DAU/new/returning decomposition on
    every growth dashboard.

    One (user, day) distinct, one user-keyed min-day aggregate folded in
    as a window (first-seen flag), one day-keyed groupBy, and a running
    sum over the day-ordered totals. All shuffles are on bounded keys;
    the final cumulative window is over the days-sized frame only.
    """
    day = F.datediff(F.col("ts"), F.lit(EPOCH).cast("date"))
    from pyspark.sql import Window as W

    ud = events.select(F.col("user_id").alias("u"), day.alias("day")).distinct()
    first_day = F.min("day").over(W.partitionBy("u"))
    flagged = ud.withColumn("is_new", (F.col("day") == first_day).cast("int"))
    daily = flagged.groupBy("day").agg(
        F.count(F.lit(1)).alias("active_users"),
        F.sum("is_new").alias("new_users"),
    )
    # the cumulative window is global-ordered BY DESIGN over the tiny
    # days-sized daily frame (a few thousand rows at any horizon) — the
    # single-partition plan is inherent to the empty partition spec, and
    # Spark's "No Partition Defined" warning on each run is expected
    cum = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return daily.select(
        "day",
        "active_users",
        "new_users",
        (F.col("active_users") - F.col("new_users")).alias("returning_users"),
        F.sum("new_users").over(cum).alias("cumulative_users"),
    )


def cuped_adjusted_ab(
    per_user: DataFrame,
    *,
    metric_col: str = "y",
    covariate_col: str = "x",
) -> DataFrame:
    """CUPED variance reduction for an A/B comparison (Deng et al.,
    WSDM'13): adjust each user's metric with a pre-experiment covariate
    — y_adj = y - θ·(x - x̄), θ = cov(x,y)/var(x) — shrinking metric
    variance by the squared correlation without biasing the treatment
    difference between ``arm`` 0 and 1 (θ is fit on the pooled population, and E[x] is arm-
    independent under randomization).

    Everything reduces to INTEGER sufficient statistics (n, Σx, Σy,
    Σx², Σxy — exact in doubles for any realistic count scale), so θ
    and the adjusted means are bit-deterministic across engines and
    partitionings — no float-sum ordering anywhere. Two tiny
    aggregates: pooled stats (1 row, broadcast) and per-arm sums; the
    per-user frame is scanned twice but is users-sized.

    ALWAYS returns one row (conditional aggregation — an empty arm
    yields null adjusted means, never an empty frame): theta, adjusted
    control/treatment means, their difference, and the variance-
    reduction percentage (100·ρ²); null theta (and unadjusted means)
    when var(x) = 0. The ρ² numerator/denominator are converted to
    double BEFORE multiplication — the n²-scale terms are exact int64
    but their products overflow at ~30k users.
    """
    x, y = F.col(covariate_col), F.col(metric_col)
    pooled = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )
    arm = F.col("arm")
    arms = per_user.agg(
        F.coalesce(F.sum(F.when(arm == 0, 1).otherwise(0)), F.lit(0)).alias("n_c"),
        F.coalesce(F.sum(F.when(arm == 0, x).otherwise(0)), F.lit(0)).alias("sx_c"),
        F.coalesce(F.sum(F.when(arm == 0, y).otherwise(0)), F.lit(0)).alias("sy_c"),
        F.coalesce(F.sum(F.when(arm == 1, 1).otherwise(0)), F.lit(0)).alias("n_t"),
        F.coalesce(F.sum(F.when(arm == 1, x).otherwise(0)), F.lit(0)).alias("sx_t"),
        F.coalesce(F.sum(F.when(arm == 1, y).otherwise(0)), F.lit(0)).alias("sy_t"),
    )
    row = arms.crossJoin(F.broadcast(pooled))
    # the n2 terms are exact int64; their PRODUCTS are not (n^4-scale —
    # int64 overflow at ~30k users x per-user counts in the hundreds,
    # a runtime ArithmeticException under ANSI mode). Convert to double
    # BEFORE any product: rho2 is a ratio, precision is irrelevant, and
    # the oracle converts at the same point so both engines round the
    # same exact integers to double
    nd, sxd, syd = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    varx_n2 = nd * F.col("sxx") - sxd * F.col("sx")
    vary_n2 = nd * F.col("syy") - syd * F.col("sy")
    cov_n2 = nd * F.col("sxy") - sxd * F.col("sy")
    theta = F.when(varx_n2 > 0, cov_n2 / varx_n2).otherwise(F.lit(None).cast("double"))
    xbar = F.col("sx") / F.col("n")
    adj = lambda sy_a, n_a, sx_a: F.when(  # noqa: E731 - local formula
        n_a > 0,
        sy_a / n_a - F.coalesce(theta, F.lit(0.0)) * (sx_a / n_a - xbar),
    )
    mean_c = adj(F.col("sy_c"), F.col("n_c"), F.col("sx_c"))
    mean_t = adj(F.col("sy_t"), F.col("n_t"), F.col("sx_t"))
    rho2 = F.when(
        (varx_n2 > 0) & (vary_n2 > 0), (cov_n2 * cov_n2) / (varx_n2 * vary_n2)
    ).otherwise(F.lit(0.0))
    return row.select(
        F.round(theta, 6).alias("theta"),
        F.round(mean_c, 6).alias("adj_rate_control"),
        F.round(mean_t, 6).alias("adj_rate_treat"),
        F.round(mean_t - mean_c, 6).alias("adj_diff"),
        F.round(100.0 * rho2, 2).alias("var_reduction_pct"),
    )
