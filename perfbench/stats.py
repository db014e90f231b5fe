"""Summary statistics shared by the runner and the spread check."""

from __future__ import annotations

import math
import statistics

MIN_TAIL = 10  # samples that must lie beyond a reported percentile


def median(values: list[float]) -> float:
    """The median, or 0.0 for no values (a layer a workload never
    reaches)."""
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], p: float) -> float | None:
    """Nearest-rank ``p`` quantile, or ``None`` when fewer than
    ``MIN_TAIL`` samples lie beyond it (too few to say anything about
    that tail)."""
    n = len(values)
    rank = max(1, math.ceil(p * n))
    if n - rank < MIN_TAIL:
        return None
    return sorted(values)[rank - 1]


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(n=4)`` gives them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
