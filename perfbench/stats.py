"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it.

    Returns (percentile, value).  With n sorted samples that is the
    (n - beyond)-th smallest, at percentile 100 * (n - beyond) / n.  With
    ``beyond`` samples or fewer no percentile qualifies; the maximum is
    returned as percentile 100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return 100.0, xs[-1]
    k = n - beyond  # 1-based rank of the value with `beyond` samples after it
    return 100.0 * k / n, xs[k - 1]


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med
