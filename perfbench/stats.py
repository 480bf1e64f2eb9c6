"""Summary statistics the benchmark reports."""

from __future__ import annotations

import statistics

#: a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond it.

    Over the ascending samples, that is the value with exactly ten samples
    above it, at percentile ``100 * (n - 10) / n``.  Below 20 samples that
    percentile falls under the median; the median is reported instead, with
    the (smaller) count of samples beyond it, so the tail never reads lower
    than the median."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return {"value": 0.0, "percentile": None, "samples": 0, "beyond": 0}
    if n >= 2 * TAIL_BEYOND:
        i = n - TAIL_BEYOND - 1
        return {"value": xs[i], "percentile": 100.0 * (i + 1) / n,
                "samples": n, "beyond": n - 1 - i}
    return {"value": statistics.median(xs), "percentile": 50.0,
            "samples": n, "beyond": n // 2}


def union_length(intervals: list[tuple[float, float]],
                 lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
