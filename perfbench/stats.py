"""Pure helpers for the benchmark's numbers (no Spark needed)."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def percentile(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """The ``q``-th percentile (0 < q < 100) of ``values``, or ``None`` when
    fewer than ``min_beyond`` samples lie above it: a tail percentile is only
    reported when at least ten samples lie beyond it."""
    if not 0 < q < 100:
        raise ValueError("q must lie strictly between 0 and 100")
    n = len(values)
    if n * (100 - q) / 100 < min_beyond:
        return None
    ordered = sorted(values)
    # nearest-rank on the sorted samples
    rank = max(1, -(-n * q // 100))
    return ordered[int(rank) - 1]


def relative_spread(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``, the default method)."""
    q1, mid, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / mid if mid else float("inf")
