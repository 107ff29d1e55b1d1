"""Summary statistics shared by the workloads and the tracer."""

from __future__ import annotations

import math
import statistics

#: tail percentiles considered, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
#: a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile of *values* (non-empty)."""
    xs = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(xs)))
    return xs[rank - 1]


def tail(values: list[float]) -> tuple[float, float] | None:
    """``(pct, value)`` for the highest percentile in ``TAIL_LADDER``
    that has at least ``MIN_BEYOND`` samples beyond it, or None when the
    run supplied too few samples for any of them."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n * (100.0 - pct) / 100.0 >= MIN_BEYOND - 1e-9:
            return pct, percentile(values, pct)
    return None


def median(values: list[float]) -> float:
    return statistics.median(values)
