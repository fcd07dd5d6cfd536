"""Percentiles and spreads used by the run, suite and compare commands."""

from __future__ import annotations

import statistics

#: candidate tail percentiles, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (the "inclusive" definition)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    k = (len(xs) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it, or None when even the median has fewer."""
    best = None
    for pct in TAIL_LADDER:
        if round(n * (100.0 - pct) / 100.0, 6) >= MIN_BEYOND:
            best = pct
    return best


def tail(values: list[float]) -> tuple[float, float] | None:
    """``(pct, value)`` of the reportable tail percentile."""
    pct = tail_percentile(len(values))
    return None if pct is None else (pct, percentile(values, pct))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """``(q1, median, q3)`` as ``statistics.quantiles(n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")
