"""Batch sessionization — gaps-and-islands session assignment.

The session semantics of Spark's ``F.session_window`` — a session closes
after ``gap`` of inactivity — expressed as two windows over the keyed,
time-ordered history:

1. ``lag(ts)`` per key → flag rows that OPEN a new session (gap exceeded or
   first event),
2. running ``sum(flag)`` per key → dense session sequence number.

Scale: both windows partition on the session key (user_id — high
cardinality), so work distributes evenly at any scale; there is exactly ONE
shuffle (the two windows and the final per-session aggregate all share the
same partitioning, which Catalyst reuses). A single user's full history must
sort within one task — the same bound every keyed-window operator has; a
user whose timeline outgrows a task is the documented salting case
(operators/skew.py).

Timestamps compare in integer microseconds (``unix_micros``) so gap
arithmetic is exact and engine-portable (DuckDB: ``epoch_us``).

Every operator here reads the events table's columns: ``user_id`` is the
entity key, ``ts`` the event time, ``event_type`` the state, ``event_id``
the unique tie-break and ``value`` the amount.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

#: day offsets index off this fixed date via the engine-portable datediff
#: idiom (q18), so day and cohort boundaries match across engines/timezones
EPOCH = "2024-01-01"
#: trailing window, in days, of the decayed-activity and rolling z-score frames
LOOKBACK_DAYS = 28


def sessionize(df: DataFrame, *, gap_seconds: int = 1800) -> DataFrame:
    """Assign a dense per-user ``session_seq`` (1-based) to every row.

    Rows belong to the same session while consecutive gaps are
    <= ``gap_seconds``; ordering ties break on ``event_id`` so the
    assignment is deterministic under duplicate timestamps.
    """
    # .cast("timestamp") tolerates TIMESTAMP_NTZ inputs (unix_micros rejects
    # them); under a UTC session the cast is epoch-exact either way
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    order = W.partitionBy("user_id").orderBy(us, F.col("event_id"))
    gap_us = F.lit(int(gap_seconds) * 1_000_000)
    opens = (
        F.when(F.lag(us).over(order).isNull(), 1)
        .when(us - F.lag(us).over(order) > gap_us, 1)
        .otherwise(0)
    )
    running = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    return df.withColumn("session_seq", F.sum(opens).over(running).cast("int"))


def session_stats(df: DataFrame, *, gap_seconds: int = 1800) -> DataFrame:
    """Per-session aggregates: (user_id, session_seq, n_events,
    session_start, session_end, total_value). One shuffle total — the
    groupBy reuses the sessionize partitioning."""
    return sessionize(df, gap_seconds=gap_seconds).groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def funnel_counts(df: DataFrame, stages: list[str]) -> DataFrame:
    """Ordered-sequence funnel: stage k counts users whose earliest
    stage-k event lies STRICTLY after their stage-(k-1) time.

    Returns ``(stage_idx, stage, n_users, conversion)`` with conversion
    relative to stage 1. The strict ordering is the part plain
    per-stage filters get wrong: a purchase that precedes the click must
    not convert. Each stage is one user-keyed aggregation joined to the
    previous stage's (shrinking) frame — shuffles stay on the user key,
    stage frames shrink monotonically, output is stages-sized.
    """
    prev: DataFrame | None = None
    stage_frames: list[DataFrame] = []
    for stage in stages:
        cur = df.filter(F.col("event_type") == stage)
        if prev is not None:
            cur = cur.join(prev, "user_id").filter(F.col("ts") > F.col("__t"))
        cur = cur.groupBy("user_id").agg(F.min("ts").alias("__t"))
        stage_frames.append(cur)
        prev = cur
    counted = [
        frame.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i + 1).alias("stage_idx"), F.lit(name).alias("stage"), "n_users"
        )
        for i, (name, frame) in enumerate(zip(stages, stage_frames))
    ]
    s = counted[0]
    for extra in counted[1:]:
        s = s.unionByName(extra)
    base = s.filter(F.col("stage_idx") == 1).select(F.col("n_users").alias("__base"))
    return s.crossJoin(F.broadcast(base)).select(
        "stage_idx",
        "stage",
        "n_users",
        # an empty stage-1 cohort has no conversion to speak of — null,
        # not an ANSI divide-by-zero
        F.when(F.col("__base") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("n_users").cast("double") / F.col("__base"), 6))
        .alias("conversion"),
    )


def retention_cohorts(df: DataFrame) -> DataFrame:
    """Weekly retention triangle: users cohorted by the week of their
    first event; each (cohort, week-offset) cell counts distinct active
    users and its retention rate vs the cohort size (offset 0).

    Weeks index off ``EPOCH``, so cohort boundaries are deterministic
    across engines and timezones. Two user-keyed aggregations + one
    distinct; all shuffles on bounded keys.
    """

    def week(col: str) -> F.Column:
        return F.floor(F.datediff(col, F.lit(EPOCH).cast("timestamp")) / 7).cast("int")

    f = df.groupBy("user_id").agg(F.min("ts").alias("__first"))
    a = (
        df.join(f, "user_id")
        .select(
            "user_id",
            week("__first").alias("cohort_week"),
            (week("ts") - week("__first")).alias("week_offset"),
        )
        .distinct()
    )
    sizes = (
        a.filter(F.col("week_offset") == 0)
        .groupBy("cohort_week")
        .agg(F.countDistinct("user_id").alias("__size"))
    )
    return (
        a.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(sizes, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.round(F.col("n_active").cast("double") / F.col("__size"), 6).alias(
                "retention"
            ),
        )
    )


def decayed_activity(events: DataFrame) -> DataFrame:
    """Exponentially-decayed activity score per user — the recency-
    weighted engagement feature behind churn/propensity models.

    score(u, t) = sum over u's events in [t - LOOKBACK_DAYS, t] of
    0.5 ** ((t - t_event) / 7), a 7-day half-life, evaluated at u's LAST
    event; one row per user: (user_id, last_day, decayed_score).

    A true EWMA is a recurrence (state_t = a*state_{t-1} + x_t) that SQL
    window frames can't express; the truncated form is expressible AND
    is what you actually want at scale — the >lookback tail is below
    2^-(28/7) and its state would otherwise be unbounded.
    The trick: a RANGE window frame on integer day offsets (deterministic
    under timestamp ties, unlike ROWS frames) collects the in-range event
    days into an array, and ``F.aggregate`` folds the decay sum JVM-side
    with the anchor row's own day in scope. Decay weights depend only on
    day VALUES, not array order, so the float sum is stable to 6 dp
    across engines and partitionings.

    One entity-keyed window shuffle + one entity-keyed argmax window —
    both on the same key, so Catalyst reuses the exchange. State per row
    is bounded by the entity's events inside the lookback, not history.
    """
    day = F.datediff(F.col("ts"), F.lit(EPOCH).cast("date"))
    w = W.partitionBy("user_id").orderBy("__day").rangeBetween(-LOOKBACK_DAYS, 0)
    scored = (
        events.select(F.col("user_id"), day.alias("__day"))
        .withColumn("__days", F.collect_list("__day").over(w))
        .withColumn(
            "decayed_score",
            F.round(
                F.aggregate(
                    "__days",
                    F.lit(0.0),
                    lambda acc, x: acc
                    + F.pow(
                        F.lit(0.5),
                        (F.col("__day") - x) / F.lit(7.0),
                    ),
                ),
                6,
            ),
        )
    )
    pick = W.partitionBy("user_id").orderBy(F.col("__day").desc())
    return (
        scored.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(F.col("user_id"), F.col("__day").alias("last_day"), "decayed_score")
    )


def rolling_zscore_outliers(events: DataFrame) -> DataFrame:
    """Rolling z-score anomaly flags per user: each event's value is
    standardized against the user's own trailing ``LOOKBACK_DAYS``
    window and flagged at |z| >= 2 — the
    monitoring primitive behind spend-spike / metric-drift alerts.

    The frame is a RANGE window on integer day offsets (all timestamp
    ties are peers — a ROWS frame would make the window *contents*
    partition-order dependent).  Frame contents alone are not enough,
    though: float ``avg``/``stddev_samp`` accumulate in whatever order
    the tie rows arrive, and this corpus contains z values within 1e-10
    of a 4-dp rounding boundary, so the rounded output flipped with the
    partition layout.  The moments are therefore computed from EXACT
    integer sums: ``value`` is scaled to its 2-dp
    integer representation (lossless for this corpus's 2-dp amounts),
    count / sum / sum-of-squares accumulate exactly (order-independent
    by construction), and the z numerator ``c*n - s`` and second-moment
    numerator ``E = n*ss - s^2`` stay exact integers until one final
    correctly-rounded cast to double feeds a fixed IEEE expression —
    identical bit-for-bit across partitionings and across engines
    (the oracle SQL mirrors the same expression tree).  Inputs with
    more than 2 decimals are standardized on their rounded
    representation.

    A window with fewer than 2 observations (or zero variance, E == 0)
    yields a null z and a 0 flag rather than a division blow-up.

    One user-keyed exchange; all three sums share the single window.
    """
    day = F.datediff(F.col("ts"), F.lit(EPOCH).cast("date"))
    w = W.partitionBy("user_id").orderBy("__day").rangeBetween(-LOOKBACK_DAYS, 0)
    base = events.select(
        F.col("user_id"),
        day.alias("__day"),
        F.col("value"),
        # exact integer representation; round() clears the double's
        # representation error (560.21*100 = 56020.999999999993 -> 56021)
        F.round(F.col("value") * F.lit(100))
        .cast("decimal(18,0)")
        .alias("__c"),
    )
    # Name the three window aggregates ONCE in a projection: the z
    # expression references them many times (zscore + is_outlier), and
    # Spark's physical Window does not CSE repeated window expressions —
    # inlining them produced 26 duplicate aggregates in the Window node.
    moments = base.select(
        F.col("user_id"),
        F.col("__day"),
        "value",
        "__c",
        F.count("__c").over(w).alias("__n"),
        F.sum("__c").over(w).alias("__s"),  # DECIMAL(28,0), exact
        F.sum(F.col("__c") * F.col("__c")).over(w).alias("__ss"),  # exact
    )
    n = F.col("__n")
    nd = n.cast("decimal(10,0)")
    e = nd * F.col("__ss") - F.col("__s") * F.col("__s")  # n*(n-1)*var, exact int >= 0
    num = F.col("__c") * nd - F.col("__s")  # c*n - s = n*(c - mu), exact int
    n_dbl = n.cast("double")
    zraw = num.cast("double") / F.sqrt(
        e.cast("double") * n_dbl / (n_dbl - F.lit(1.0))
    )
    z = F.when(
        (n < 2) | (e == 0), F.lit(None).cast("double")
    ).otherwise(F.round(zraw, 4))
    return moments.select(
        F.col("user_id"),
        F.col("__day").alias("day"),
        "value",
        z.alias("zscore"),
        F.when(F.abs(z) >= 2.0, F.lit(1)).otherwise(F.lit(0)).alias("is_outlier"),
    )


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next state | state), from lead() pairs — the path
    model behind "what do users do after X" product analytics and
    next-event baselines.

    Ordering inside a user is (ts, event_id) — the unique tie-break
    column makes lead() deterministic when timestamps collide
    (a bare ts ORDER BY silently depends on partition order). Terminal
    events (no successor) are dropped, matching the standard estimator.

    One user-keyed window shuffle + one (state, next) groupBy; the
    per-state totals fold in via a window sum over the tiny pair-count
    frame (a join against a separate totals aggregate would re-evaluate
    the unpersisted pairs subtree and double every upstream shuffle).
    """
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    pairs = (
        events.withColumn("__next", F.lead("event_type").over(w))
        .filter(F.col("__next").isNotNull())
        .groupBy(F.col("event_type").alias("from_state"), F.col("__next").alias("to_state"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # per-state totals as a window over the (state, next) counts — NOT a
    # separate aggregate joined back, which would evaluate the whole
    # pairs subtree twice (no persist) and double every upstream shuffle
    total = F.sum("n").over(W.partitionBy("from_state"))
    return pairs.select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n") / total, 6).alias("prob"),
    )


def calendar_fill(events: DataFrame) -> DataFrame:
    """Dense-calendar gap fill with forward carry: one row per (user,
    day) between the user's first and last activity, daily totals
    where observed, and the last observed total carried forward across
    gap days — the resampling step every time-series feature pipeline
    needs before window math, where a missing day must mean "carried
    state", not "absent row".

    Plan: one (entity, day) aggregate; one entity-sized min/max agg
    whose ``sequence()`` explodes into the day spine (fan-out bounded by
    the calendar span, generated — never shuffled in); a 1:1 left join
    spine x daily on the composite key; and one entity-keyed ffill
    window (``last(ignorenulls=True)`` over an unbounded-preceding ROWS
    frame — safe here because (entity, day) is unique by construction,
    the one place a ROWS frame is deterministic). Spine and daily share
    the entity key, so AQE coalesces onto one exchange family.

    Returns (user_id, day, daily_sum, observed, filled); sums rounded to
    6 dp before the carry so both engines carry identical values.
    """
    day = F.datediff(F.col("ts"), F.lit(EPOCH).cast("date"))
    daily = (
        events.select(F.col("user_id"), day.alias("day"), F.col("value").alias("v"))
        .groupBy("user_id", "day")
        .agg(F.round(F.sum("v"), 6).alias("daily_sum"))
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("__mn"), F.max("day").alias("__mx"))
        .select(F.col("user_id"), F.explode(F.sequence("__mn", "__mx")).alias("day"))
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    w = W.partitionBy("user_id").orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return joined.select(
        F.col("user_id"),
        "day",
        "daily_sum",
        F.col("daily_sum").isNotNull().cast("int").alias("observed"),
        F.last("daily_sum", ignorenulls=True).over(w).alias("filled"),
    )
