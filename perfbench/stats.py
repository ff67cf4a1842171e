"""Summary statistics the benchmark reports.

Percentiles follow one rule: a percentile is reported only when at least
``MIN_BEYOND`` samples lie beyond it, so p50 needs 20 samples, p90 100 and
p99 1000.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def samples_beyond(n: int, pct: float) -> int:
    """Samples strictly above the ``pct`` percentile of ``n`` samples."""
    return n - math.ceil(n * pct / 100.0)


def supported(n: int, pct: float) -> bool:
    return samples_beyond(n, pct) >= MIN_BEYOND


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    if not values or any(v <= 0 for v in values):
        raise ValueError("geometric mean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def median(values: list[float]) -> float:
    return statistics.median(values)
