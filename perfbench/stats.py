"""Order statistics used to summarise timed samples (the median is
``statistics.median``)."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of
    the samples at or below it. Always one of the measured values, so a
    p90 over 12 samples is the 11th smallest, never an interpolation."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"q must be in (0, 100], got {q}")
    s = sorted(values)
    return s[max(1, math.ceil(q / 100.0 * len(s))) - 1]


def geomean(values) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))
