"""Summary statistics with the benchmark's percentile rule.

A percentile is reported only when at least ``MIN_BEYOND`` samples lie
beyond it, so a p90 needs 100 samples; the sample count travels with
every summary.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of quantile ``q`` among ``n`` samples."""
    return max(1, math.ceil(round(q * n, 9)))


def supported(n: int, q: float) -> bool:
    """True when ``n`` samples put at least MIN_BEYOND beyond quantile ``q``."""
    return n - _rank(n, q) >= MIN_BEYOND


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank percentile, or None when the sample cannot support it."""
    if not supported(len(values), q):
        return None
    return sorted(values)[_rank(len(values), q) - 1]


def summary(values: list[float]) -> dict:
    """Median, p90 when supported, and the sample count."""
    return {"n": len(values), "p50": median(values), "p90": percentile(values, 0.9)}


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
