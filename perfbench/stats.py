"""Order statistics and span arithmetic used by the benchmark.

Pure Python, so the fast tests exercise them without Spark.
"""

from __future__ import annotations

import statistics

TAIL_MIN_BEYOND = 10


def median(values) -> float:
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


def tail(values, min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``min_beyond``
    samples above it. Returns (value, percentile, sample count).

    With n sorted samples, index i has n - 1 - i samples beyond it, so
    the answer is index n - 1 - min_beyond, the (i + 1) / n percentile.
    With too few samples to leave ``min_beyond`` beyond any of them,
    the minimum is returned.
    """
    vals = sorted(values)
    n = len(vals)
    if n == 0:
        raise ValueError("tail of no samples")
    i = max(n - 1 - min_beyond, 0)
    return float(vals[i]), 100.0 * (i + 1) / n, n


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as
    ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children) -> float:
    """A span's duration minus the part of it its children cover
    (children clipped to the span, overlaps counted once)."""
    s, e = span
    clipped = [(max(cs, s), min(ce, e)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)
