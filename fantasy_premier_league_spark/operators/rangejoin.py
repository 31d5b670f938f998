"""Range (interval) join — bucketed equi-join, never a nested loop.

Open-source Spark has no range-join optimization: a raw
``a.ts BETWEEN b.lo AND b.hi`` predicate plans as BroadcastNestedLoopJoin
(O(|A|x|B|) comparisons — unusable at scale). The standard scalable
rewrite, implemented here: quantize time into fixed buckets, equi-join on
``(key, bucket)`` with the probe side exploded to every bucket its window
overlaps, then refine with the exact interval predicate. Candidate volume
drops from |A|x|B| to matching-bucket pairs; the join shuffles on a
high-cardinality composite key, so it distributes evenly and AQE handles
residual skew. Bucket width tunes candidate density vs explode fan-out —
``window <= bucket`` probes at most 2 buckets per anchor.

All comparisons run in integer microseconds (``unix_micros``), exact and
engine-portable (DuckDB ``epoch_us``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lookback_join(
    events: DataFrame,
    anchors: DataFrame,
    *,
    window_seconds: int = 1800,
    bucket_seconds: int | None = None,
) -> DataFrame:
    """Pairs (anchor, event) where the event is in the anchor's look-back
    window ``[anchor_ts - window, anchor_ts)`` for the same ``user_id``.
    Both sides carry the events schema's ``user_id`` and ``ts``; anchors
    are identified by ``event_id``.

    Returns the exploded pair frame: every ``events`` column plus
    ``anchor_id`` and ``anchor_us``; aggregate per anchor downstream. The
    half-open upper bound excludes the anchor row itself (strictly earlier
    timestamps only).
    """
    bucket_s = bucket_seconds or window_seconds
    bucket_us = int(bucket_s) * 1_000_000
    window_us = int(window_seconds) * 1_000_000
    n_back = math.ceil(window_seconds / bucket_s)

    # floor division, NOT double-divide-then-cast: casting truncates toward
    # zero, which shifts every pre-1970 (negative-microsecond) timestamp
    # into the wrong bucket and silently drops its matches
    e = events.withColumn("__us", F.unix_micros(F.col("ts").cast("timestamp"))).withColumn(
        "__bucket", F.floor(F.col("__us") / F.lit(bucket_us)).cast("long")
    )
    a = (
        anchors.select(
            F.col("user_id").alias("__akey"),
            F.col("event_id").alias("anchor_id"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("anchor_us"),
        )
        .withColumn("__abucket", F.floor(F.col("anchor_us") / F.lit(bucket_us)).cast("long"))
        # probe every bucket the look-back window can overlap
        .withColumn(
            "__bucket",
            F.explode(
                F.sequence(F.col("__abucket") - F.lit(n_back), F.col("__abucket"))
            ),
        )
        .drop("__abucket")
    )
    pairs = a.join(
        e,
        (F.col("__akey") == F.col("user_id")) & (a["__bucket"] == e["__bucket"]),
    ).filter(
        (F.col("__us") >= F.col("anchor_us") - F.lit(window_us))
        & (F.col("__us") < F.col("anchor_us"))
    )
    return pairs.drop("__akey", "__bucket", "__us")
