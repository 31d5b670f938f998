"""Feature-engineering operators (SURVEY §2.5 windows, §2.8 scalars).

The reference's feature build (EDA.ipynb § 19-33) over players_full: 24
lagged columns per player, days-since-last-game, per-gameweek percentage
and decile features, cyclical time encodings, group-mean imputation
cascades. Each is one window/agg expression here — a single shuffle per
partitioning key, shared across every column that uses the same window.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def add_lag_features(
    df: DataFrame,
    *,
    entity: str,
    order: str,
    cols: Sequence[str],
) -> DataFrame:
    """W1: per-entity lag of many columns at once (EDA § 24-25: 24-col
    shift(1) by player ordered by kickoff), each as ``previous_<col>``.
    One window → one shuffle for all columns."""
    w = W.partitionBy(entity).orderBy(order)
    return df.select("*", *[F.lag(c, 1).over(w).alias(f"previous_{c}") for c in cols])


def add_days_since_last(df: DataFrame, *, entity: str, ts: str) -> DataFrame:
    """W3: ordered diff per entity in days (EDA § 32), as ``days_since_last``."""
    w = W.partitionBy(entity).orderBy(ts)
    return df.withColumn("days_since_last", F.datediff(F.col(ts), F.lag(ts).over(w)))


def add_group_share(
    df: DataFrame, *, group: Sequence[str], value: str, out: str | None = None
) -> DataFrame:
    """A2 (PercentageCalc, modelling/helpers.py:30-37): value / group total.
    Window-sum avoids a join; partial aggregation makes it one shuffle."""
    out = out or f"{value}_share"
    total = F.sum(value).over(W.partitionBy(*group))
    return df.withColumn(out, F.when(total != 0, F.col(value) / total))


def add_group_decile(
    df: DataFrame, *, group: Sequence[str], value: str, out: str | None = None
) -> DataFrame:
    """A3 (per-gameweek decile buckets, EDA § 27) as ntile(10), 1-10."""
    out = out or f"{value}_decile"
    w = W.partitionBy(*group).orderBy(F.col(value).asc_nulls_first())
    return df.withColumn(out, F.ntile(10).over(w))


def add_time_features(df: DataFrame, *, ts: str) -> DataFrame:
    """F12-F14 (EDA § 30-33): hour/weekday + cyclical sin/cos encodings of
    time-of-day."""
    sec = (F.hour(ts) * 3600 + F.minute(ts) * 60 + F.second(ts)).cast("double")
    angle = 2 * 3.141592653589793 * sec / 86400.0
    return (
        df.withColumn(f"{ts}_hour", F.hour(ts))
        .withColumn(f"{ts}_weekday", F.weekday(ts))
        .withColumn(f"{ts}_tod_sin", F.sin(angle))
        .withColumn(f"{ts}_tod_cos", F.cos(angle))
    )


def missingness_profile(df: DataFrame) -> DataFrame:
    """A8 (EDA § 7,21,…): per-column null fraction, one pass. Returns
    (column, null_fraction) rows."""
    fracs = df.agg(
        *[F.avg(F.col(c).isNull().cast("double")).alias(c) for c in df.columns]
    )
    stacked = fracs.select(
        F.explode(
            F.create_map(*[x for c in df.columns for x in (F.lit(c), F.col(c))])
        ).alias("column", "null_fraction")
    )
    return stacked


def group_mean_impute(
    df: DataFrame, *, value: str, cascade: Sequence[Sequence[str]], out: str | None = None
) -> DataFrame:
    """A6 (EDA § 69; modelling/helpers.py:97-106): null values filled from a
    cascade of group means — first grouping that has a mean wins; a global
    mean (computed via broadcast scalar join, never a single-partition
    window) is the final fallback."""
    out = out or f"{value}_imputed"
    fills = [F.avg(value).over(W.partitionBy(*g)) for g in cascade]
    global_mean = df.agg(F.avg(value).alias("__global_mean"))
    return (
        df.crossJoin(F.broadcast(global_mean))
        .withColumn(out, F.coalesce(F.col(value), *fills, F.col("__global_mean")))
        .drop("__global_mean")
    )


def one_hot(df: DataFrame, *, col: str, categories: Sequence[str], prefix: str | None = None) -> DataFrame:
    """F20 (get_dummies, EDA § 45,79) with an explicit category list — no
    distinct-discovery job, stable schema at any scale."""
    prefix = prefix if prefix is not None else col
    return df.select(
        "*",
        *[
            (F.col(col) == c).cast("int").alias(f"{prefix}_{c}")
            for c in categories
        ],
    )


def bin_values(
    df: DataFrame, *, value: str, thresholds: Sequence[float], labels: Sequence[str], out: str | None = None
) -> DataFrame:
    """F21 (bin_values thresholds 50/70/100, modelling/helpers.py:86-94):
    when-chain bucketing; len(labels) == len(thresholds) + 1."""
    assert len(labels) == len(thresholds) + 1
    out = out or f"{value}_bin"
    expr = None
    for t, lab in zip(thresholds, labels):
        expr = F.when(F.col(value) < t, lab) if expr is None else expr.when(F.col(value) < t, lab)
    expr = expr.otherwise(labels[-1])
    return df.withColumn(out, expr)


def tag_columns(df: DataFrame, *, col: str, max_tags: int = 64, prefix: str = "tag_") -> tuple[DataFrame, list[str]]:
    """F23 (player_attribute_columns, EDA § 44-45; modelling/helpers.py:
    72-84): comma-separated tag lists → one boolean column per distinct tag.

    Two-pass by necessity (data-dependent schema): pass 1 collects the
    distinct tag vocabulary (capped at ``max_tags`` — a runaway vocabulary
    at 100 TB would otherwise explode the schema); pass 2 generates
    ``array_contains`` columns. Tags are normalized: strip, lower,
    drop '#'/nbsp noise (EDA § 44 regex).
    """
    tags_arr = F.filter(
        F.transform(
            F.split(F.coalesce(F.col(col), F.lit("")), ","),
            lambda t: F.trim(F.regexp_replace(F.lower(t), r"[#\xa0]", "")),
        ),
        lambda t: t != "",
    )
    with_arr = df.withColumn("__tags", tags_arr)
    vocab_rows = (
        with_arr.select(F.explode("__tags").alias("t"))
        .groupBy("t")
        .count()
        .orderBy(F.desc("count"), F.asc("t"))
        .limit(max_tags)
        .collect()
    )
    vocab = sorted(r["t"] for r in vocab_rows)
    out = with_arr.select(
        "*", *[F.array_contains("__tags", t).cast("int").alias(f"{prefix}{t.replace(' ', '_')}") for t in vocab]
    ).drop("__tags")
    return out, vocab


def loo_target_encode(
    df: DataFrame,
    *,
    cat_col: str,
    target_col: str,
    decimal_type: str | None = None,
) -> DataFrame:
    """Leave-one-out target encoding: each row's categorical is encoded,
    as ``loo_enc`` rounded to 4 dp, as the mean target of its group
    EXCLUDING the row itself — (group_sum - own) / (group_cnt - 1) — the
    leakage-safe form of mean
    encoding (plain group-mean lets every row see its own label; LOO is
    the standard fix short of full fold splits, cf. ml/splits.py for
    the fold machinery).

    One category-keyed window computes both group sum and count — no
    join, no second scan. Singleton groups have no leave-one-out sample
    and encode as null (callers impute downstream).

    ``decimal_type`` (e.g. "decimal(18,2)") accumulates the group sum in
    EXACT decimal instead of float: a double sum over a large group
    carries ~n*eps*|sum| error that depends on partition order, so two
    engines (or two partitionings of the same engine) can disagree at
    the rounding boundary — fixed-point money columns should always sum
    in decimal. The decimal sum converts back to double exactly (cents
    fit in 2^53) before the division.
    """
    w = W.partitionBy(cat_col)
    t = (
        F.col(target_col).cast(decimal_type)
        if decimal_type
        else F.col(target_col)
    )
    gsum = F.sum(t).over(w).cast("double")
    own = t.cast("double")
    gcnt = F.count(t).over(w)
    enc = F.when(
        gcnt > 1, F.round((gsum - own) / (gcnt - 1), 4)
    ).otherwise(F.lit(None).cast("double"))
    return df.withColumn("loo_enc", enc)
