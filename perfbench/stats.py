"""Order statistics as the benchmark reports them (nearest-rank)."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10


def tail(values: list[float]) -> dict:
    """The highest whole percentile (50 to 99) whose rank has at least
    min(TAIL_MIN_BEYOND, n // 4) samples above it, with that count and the
    sample size n. From 40 samples on that is the fixed 10-beyond rule; a
    smaller sample keeps a quarter of itself beyond the reported value, so
    the tail is never a single sample (the maximum)."""
    xs = sorted(values)
    n = len(xs)
    need = max(1, min(TAIL_MIN_BEYOND, n // 4))
    for q in range(99, 49, -1):
        rank = math.ceil(q / 100.0 * n)
        if n - rank >= need:
            return {"percentile": q, "value": xs[rank - 1], "beyond": n - rank, "n": n}
    return {"percentile": 50, "value": xs[math.ceil(n / 2) - 1], "beyond": n // 2, "n": n}


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
