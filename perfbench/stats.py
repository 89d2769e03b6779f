"""Summary statistics for the benchmark: percentiles that know when they are
unsupported, the median and the geometric mean."""

from __future__ import annotations

import math
import statistics

#: a percentile is reported only when at least this many samples lie
#: strictly beyond it; otherwise the tail is a single unlucky sample
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float | None:
    """The ``q``-th percentile (0 < q < 100, nearest rank) of ``values``,
    or None when fewer than :data:`MIN_BEYOND` samples lie beyond it."""
    if not 0 < q < 100:
        raise ValueError(f"percentile out of range: {q}")
    n = len(values)
    if n == 0:
        return None
    rank = math.ceil(q / 100.0 * n)  # 1-based nearest rank
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("geomean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))
