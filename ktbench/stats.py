"""Order statistics shared by the workloads and the stability record."""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10  # a tail percentile needs at least this many samples above it


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with >= 10 samples
    beyond it, never below the median; with 10 samples or fewer, the
    maximum at percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= TAIL_MIN_BEYOND:
        return float(s[-1]), 100.0
    i = max(n - TAIL_MIN_BEYOND - 1, n // 2)
    return float(s[i]), 100.0 * (i + 1) / n


def quartiles(xs: list[float]) -> dict[str, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return {"q1": q1, "median": q2, "q3": q3, "spread": (q3 - q1) / q2 if q2 else 0.0}
