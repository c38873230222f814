"""Aggregation helpers: medians, the tail-percentile rule and interval
unions."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10   # samples a reported tail percentile must have above it


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile, p in (0, 100]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return float(s[max(0, math.ceil(p / 100.0 * len(s)) - 1)])


def tail_percentile(xs) -> tuple[int, float] | None:
    """The highest whole percentile p ≥ 50 that still has at least
    TAIL_BEYOND samples strictly above its nearest rank → (p, value), or
    None when even the median has fewer than TAIL_BEYOND samples beyond
    it (fewer than 2·TAIL_BEYOND samples)."""
    n = len(xs)
    best = None
    for p in range(50, 100):
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= TAIL_BEYOND:
            best = (p, percentile(xs, p))
    return best


def interval_union(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
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


def timing_summary(name: str, xs) -> str:
    """One line: median, the tail percentile by the rule, sample count."""
    xs = list(xs)
    if not xs:
        return f"{name}: no samples"
    tail = tail_percentile(xs)
    t = (f"p{tail[0]}={tail[1]:.4f}" if tail
         else "no tail percentile (fewer than 20 samples)")
    return f"{name}: p50={median(xs):.4f} {t} n={len(xs)}"
