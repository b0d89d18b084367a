"""Order statistics for the benchmark report."""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only with this many samples above it.
MIN_BEYOND = 10


def nearest_rank(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest value with at least
    ``pct`` percent of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    if not 0 < pct <= 100:
        raise ValueError(f"percentile out of range: {pct}")
    ordered = sorted(values)
    return ordered[max(1, math.ceil(pct / 100 * len(ordered))) - 1]


def tail_percentile(values, pct: float, min_beyond: int = MIN_BEYOND) -> float | None:
    """``nearest_rank(values, pct)`` when at least ``min_beyond`` samples
    lie strictly above it, else None: a tail read from fewer samples is
    not reported."""
    if not values:
        return None
    p = nearest_rank(values, pct)
    return p if sum(v > p for v in values) >= min_beyond else None


def mean(values) -> float:
    """Arithmetic mean; 0 for no samples."""
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def median(values) -> float:
    return statistics.median(values)


def rel_spread(values) -> float:
    """Distance between the first and third quartile, as a share of
    the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
