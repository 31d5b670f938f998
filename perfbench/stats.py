"""Pure statistics used by the runner, the trace report and the steadiness
check. No Spark imports, so the self-tests run in a plain interpreter."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence

#: at least this many samples must lie above a reported tail percentile
TAIL_BEYOND = 10


def percentile(values: Sequence[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p`` per
    cent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(n: int, beyond: int = TAIL_BEYOND) -> int | None:
    """The highest whole percentile that leaves at least ``beyond`` of ``n``
    samples strictly above it, or None when ``n < 2 * beyond`` (the tail
    would sit at or below the median)."""
    if n < 2 * beyond:
        return None
    best = None
    for p in range(50, 100):
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= beyond:
            best = p
    return best


def error_rate(attempted: int, raised: int, wrong: int) -> float:
    """(ops that raised + ops whose output failed its check) / attempted."""
    if attempted <= 0:
        raise ValueError("error_rate needs at least one attempted op")
    if raised < 0 or wrong < 0 or raised + wrong > attempted:
        raise ValueError(f"inconsistent counts: attempted={attempted} raised={raised} wrong={wrong}")
    return (raised + wrong) / attempted


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def quartiles(values: Sequence[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values: Sequence[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else math.inf
