"""Sample arithmetic for the benchmark: percentiles, the tail rule and
the failure fraction. Every sample is kept; nothing here drops, folds
or retries a slow sample."""

from __future__ import annotations

import math

MIN_BEYOND_TAIL = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated ``p``-th percentile (0..100) of ``values``
    (numpy's default "linear" method)."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= p <= 100:
        raise ValueError(f"percentile {p} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def tail_percentile(n: int) -> int:
    """Highest whole percentile that leaves at least
    :data:`MIN_BEYOND_TAIL` of ``n`` samples strictly beyond it, floored
    at the median. Below ``2 * MIN_BEYOND_TAIL`` samples no percentile at
    or above the median has ten samples beyond it; the tail is then the
    maximum (100), and the sample count printed beside it says so."""
    if n < 1:
        raise ValueError("tail of no samples")
    for p in range(99, 49, -1):
        if samples_beyond(n, p) >= MIN_BEYOND_TAIL:
            return p
    return 100


def samples_beyond(n: int, p: float) -> int:
    """Samples of ``n`` that rank strictly above the ``p``-th percentile
    position."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def tail(values: list[float]) -> tuple[float, int]:
    """(value, percentile) of the tail of ``values``."""
    p = tail_percentile(len(values))
    return percentile(values, p), p


def failed_frac(attempted: int, failed: int) -> float:
    """Failed or wrong operations over operations attempted."""
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
