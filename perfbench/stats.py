"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: percentiles considered for a tail figure, highest last
TAIL_CANDIDATES = (50, 75, 90, 95, 99)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the ``inclusive`` method of
    ``statistics.quantiles``); ``p`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest candidate percentile with at least ``beyond`` of ``n``
    samples above it, or None when even the median has fewer."""
    best = None
    for p in TAIL_CANDIDATES:
        if n * (100 - p) / 100.0 >= beyond:
            best = p
    return best


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)`` gives
    them."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))
