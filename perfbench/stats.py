"""Order statistics used by the benchmark's metrics."""

from __future__ import annotations

import math
import statistics
from typing import Sequence


def median(values: Sequence[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100): the smallest value
    with at least ``q`` percent of the sample at or below it."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0 < q <= 100:
        raise ValueError(f"q must be in (0, 100], got {q}")
    ordered = sorted(values)
    rank = math.ceil(q / 100 * len(ordered))
    return float(ordered[rank - 1])


#: samples ``p90`` needs so that ten lie above it
P90_MIN_SAMPLES = 100


def p90(values: Sequence[float]) -> float:
    """90th percentile; needs ``P90_MIN_SAMPLES`` so that ten lie above it."""
    if len(values) < P90_MIN_SAMPLES:
        raise ValueError(f"p90 needs >= {P90_MIN_SAMPLES} samples for 10 above it, got {len(values)}")
    return percentile(values, 90)


def quartile_spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with quartiles as ``statistics.quantiles(values, n=4)``."""
    if len(values) < 2:
        raise ValueError("quartiles need at least two values")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    if q2 == 0:
        return 0.0 if q3 == q1 else math.inf
    return (q3 - q1) / q2
