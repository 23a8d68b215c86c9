"""Small order statistics shared by the runners and the report."""

from __future__ import annotations

import math
import statistics

# the percentiles a tail may be reported at, highest last
TAIL_LADDER = (50.0, 75.0, 80.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return float(ordered[rank - 1])


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """The highest ladder percentile with at least ``min_beyond`` of
    ``n`` samples above it, or None when even the median lacks them."""
    best = None
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100.0 * n) >= min_beyond:
            best = p
    return best


def summary(values) -> dict:
    """Median, quartiles, the supported tail and the sample count."""
    values = list(values)
    out: dict = {"n": len(values)}
    if not values:
        return out
    out["median"] = median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
        out["q1"], out["q3"] = q1, q3
    tail = tail_percentile(len(values))
    if tail is not None:
        out["tail_pct"] = tail
        out["tail"] = percentile(values, tail)
    return out

