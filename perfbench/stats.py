"""Timing summaries: median plus the highest percentile that still has at
least ten samples beyond it, always with the sample count."""

from __future__ import annotations

import math
import statistics

#: Percentiles a tail may be reported at, lowest first.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``MIN_BEYOND`` of ``n``
    samples beyond it; ``None`` when even the median has fewer."""
    best = None
    for p in LADDER:
        if math.floor(n * (100.0 - p) / 100.0 + 1e-9) >= MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def summary(values: list[float]) -> dict:
    """``{"n", "p50", "tail_p", "tail"}``; tail fields are ``None`` when
    there are too few samples for any tail percentile."""
    n = len(values)
    if n == 0:
        return {"n": 0, "p50": None, "tail_p": None, "tail": None}
    p = tail_percentile(n)
    return {
        "n": n,
        "p50": statistics.median(values),
        "tail_p": p,
        "tail": percentile(values, p) if p is not None else None,
    }

