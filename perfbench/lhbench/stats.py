"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only when at least this many samples
#: lie beyond it (p90 therefore needs >= 100 samples)
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float], q: float,
                    min_beyond: int = MIN_BEYOND) -> float | None:
    """``percentile(values, q)``, or None when fewer than
    ``min_beyond`` samples lie beyond it — a tail read from a handful
    of samples is one unlucky op, not a percentile."""
    if len(values) * (1.0 - q) < min_beyond - 1e-9:
        return None
    return percentile(values, q)


def median(values: list[float], default: float = 0.0) -> float:
    return statistics.median(values) if values else default


def mean(values: list[float], default: float = 0.0) -> float:
    return statistics.fmean(values) if values else default


def geomean(values: list[float], default: float = 0.0) -> float:
    return statistics.geometric_mean(values) if values else default


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them — the run-to-run steadiness measure of a metric."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else math.inf
