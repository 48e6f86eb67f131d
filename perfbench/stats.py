"""Percentiles, the tail-percentile rule and run-to-run spread."""

from __future__ import annotations

import math
import statistics


def percentile(values, p: float) -> float:
    """Linear-interpolated ``p``-th percentile (numpy's default rule)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile, from 50 up to 99, that has at least
    ``beyond`` of ``n`` samples beyond it; None when even the median
    does not."""
    for p in range(99, 49, -1):
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def iqr_share(values) -> float:
    """(Q3 - Q1) / median with ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
