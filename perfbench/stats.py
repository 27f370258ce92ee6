"""Percentiles and the rule that picks the reported tail percentile."""

from __future__ import annotations

import math
import statistics

#: candidate tail percentiles, highest first
TAIL_CANDIDATES = (99, 95, 90, 75)
#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def tail_percentile(n: int) -> int | None:
    """The highest candidate percentile with at least ``MIN_BEYOND``
    of ``n`` samples beyond it, or None when even p75 has fewer."""
    for p in TAIL_CANDIDATES:
        if n - math.ceil(p / 100.0 * n) >= MIN_BEYOND:
            return p
    return None


def median(values) -> float:
    return statistics.median(values)


def summary(values) -> dict:
    """Median, the tail the sample count allows, and the count."""
    xs = list(values)
    out = {"n": len(xs), "p50": median(xs) if xs else None}
    p = tail_percentile(len(xs))
    if p is not None:
        out[f"p{p}"] = percentile(xs, p)
    return out
