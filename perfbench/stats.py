"""Small statistics helpers shared by the workloads."""

from __future__ import annotations

import math
import statistics

# op_tail_s is taken at the highest percentile that still leaves this
# many samples above it.
TAIL_MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """Highest whole percentile with at least TAIL_MIN_BEYOND of ``n``
    samples beyond it (50 when there are too few samples)."""
    best = 50
    for p in range(50, 100):
        if n * (100 - p) / 100.0 >= TAIL_MIN_BEYOND:
            best = p
    return float(best)


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


def mean(values) -> float:
    return statistics.fmean(values) if values else 0.0
