"""Order statistics used by the benchmark's reports."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    """The usual median (mean of the two middle samples when n is even)."""
    if not values:
        raise ValueError("no samples")
    return statistics.median(values)


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them (exclusive method, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
