"""Summary statistics the benchmark reports.

A timing is reported as a median plus a tail: the highest percentile of
``TAIL_GRID`` that still has at least ``TAIL_MIN_BEYOND`` samples strictly
above it, recorded together with that percentile and the sample count.
"""

from __future__ import annotations

import math
import statistics

TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    k = max(math.ceil(pct / 100.0 * len(sorted_values)), 1)
    return sorted_values[k - 1]


def tail(values: list[float]) -> dict:
    """``{"value", "pct", "n", "beyond"}`` for the highest grid percentile
    with at least ``TAIL_MIN_BEYOND`` samples above it. With too few
    samples for any grid percentile, ``pct`` is None and ``value`` is the
    median: no tail is claimed."""
    xs = sorted(values)
    for pct in TAIL_GRID:
        if not xs:
            break
        v = nearest_rank(xs, pct)
        beyond = sum(1 for x in xs if x > v)
        if beyond >= TAIL_MIN_BEYOND:
            return {"value": v, "pct": pct, "n": len(xs), "beyond": beyond}
    return {"value": median(xs), "pct": None, "n": len(xs), "beyond": 0}


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals, in their unit."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
