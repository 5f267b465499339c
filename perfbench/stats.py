"""Percentiles, geometric means and quartile spreads — the only place the
benchmark turns samples into reported numbers."""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10  # samples that must lie above a reported percentile


def percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank ``q``-percentile (0 < q < 1), or None when fewer than
    ``MIN_BEYOND`` samples lie beyond it, so a tail is never read off a
    handful of points."""
    if not 0 < q < 1:
        raise ValueError(f"percentile q must be in (0, 1), got {q}")
    n = len(samples)
    rank = math.ceil(q * n)  # 1-based
    if n == 0 or n - rank < MIN_BEYOND:
        return None
    return sorted(samples)[rank - 1]


def summarize(samples: list[float]) -> dict:
    """One operation type's samples as ``{"n", "p50", "tail_q", "tail"}``:
    the median, and the highest of p99/p95/p90/p75 that has at least
    ``MIN_BEYOND`` samples beyond it (None when none has). Raises if the
    tail comes out below the median, which only a bug can cause."""
    if not samples:
        raise ValueError("no samples")
    p50 = statistics.median(samples)
    tail_q, tail = None, None
    for q in (0.99, 0.95, 0.9, 0.75):
        tail = percentile(samples, q)
        if tail is not None:
            tail_q = q
            break
    if tail is not None and tail < p50:
        raise ValueError(f"p{round(100 * tail_q)} {tail} < p50 {p50} over {len(samples)} samples")
    return {"n": len(samples), "p50": p50, "tail_q": tail_q, "tail": tail}


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError(f"geomean needs positive values, got {values}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
