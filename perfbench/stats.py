"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def percentile(samples: list[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    rank = max(1, math.ceil(pct * len(ordered) / 100.0))
    return ordered[rank - 1]


def tail(samples: list[float], beyond: int = 10) -> dict:
    """The highest whole percentile that still has at least ``beyond``
    samples above it, with that percentile and the sample counts.

    With ``n`` samples, percentile ``p`` (nearest rank) leaves
    ``n - ceil(p n / 100)`` samples above it. Below ``2 * beyond``
    samples that percentile would not be above the median, so the
    maximum is reported instead, marked ``percentile = 100`` with
    the number of samples beyond it (zero) — the caller can tell the
    two cases apart.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return {"value": max(samples), "percentile": 100, "n": n, "beyond": 0}
    p = math.floor(100.0 * (n - beyond) / n)
    while n - math.ceil(p * n / 100.0) < beyond:  # float guard
        p -= 1
    return {"value": percentile(samples, p), "percentile": p, "n": n,
            "beyond": n - math.ceil(p * n / 100.0)}


def median(samples: list[float]) -> float:
    return statistics.median(samples)
