"""Order statistics for benchmark timings.

A timing is reported as its median plus the highest percentile that still
has at least ten samples beyond it, together with the sample count, so a
tail figure is never read off a handful of points.
"""

from __future__ import annotations

import math

# percentiles considered for the tail, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule) of a non-empty list."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def tail_percentile(n: int) -> float | None:
    """The highest candidate percentile with at least ``MIN_BEYOND`` of ``n``
    samples strictly above its rank, or None when the sample is too small."""
    for p in TAIL_CANDIDATES:
        if n - math.ceil(n * p / 100.0) >= MIN_BEYOND:
            return p
    return None

