"""Metric math shared by the workloads: percentiles with the
ten-samples-beyond rule, failure shares and the lane-based
closed-loop rate."""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only when at least this many samples
# lie beyond it; otherwise it is an estimate from a handful of points.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``q`` in (0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank {q} outside (0, 100]")
    ordered = sorted(values)
    rank = math.ceil(q / 100 * len(ordered))
    return ordered[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` percentile of n."""
    return n - math.ceil(q / 100 * n)


def supported_percentile(
    values: list[float], q: float, min_beyond: int = MIN_BEYOND
) -> float | None:
    """The ``q`` percentile, or None when fewer than ``min_beyond``
    samples lie beyond it."""
    if samples_beyond(len(values), q) < min_beyond:
        return None
    return percentile(values, q)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def failed_share(failed: int, attempted: int) -> float:
    """Failed, expired or wrong-output units over units attempted."""
    if attempted < 1:
        raise ValueError("failed_share needs at least one attempt")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def lane_rate(lanes: list[tuple[float, list[float], list[float]]]) -> float:
    """Closed-loop throughput from lanes that each run one unit at a
    time. A lane is ``(start, completion_times, weights)``: measured
    from its own start to its own last completion, a lane's rate has
    no partial unit at either end. Returns weight/s summed over lanes."""
    rate = 0.0
    for start, done, w in lanes:
        if not done:
            raise ValueError("lane completed no unit")
        span = done[-1] - start
        if span <= 0:
            raise ValueError("lane span must be positive")
        rate += sum(w) / span
    return rate
