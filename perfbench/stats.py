"""Small statistics helpers shared by the runner and its tests."""

from __future__ import annotations

import math
import statistics

#: a reported tail percentile needs at least this many samples beyond it
MIN_BEYOND = 10


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    share ``q`` of the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    s = sorted(samples)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank q-percentile."""
    return n - max(1, math.ceil(q * n))


def tail(samples: list[float], qs=(0.99, 0.95, 0.9, 0.75, 0.5)) -> tuple[float, float]:
    """(q, value) of the highest percentile in ``qs`` with at least
    MIN_BEYOND samples beyond it; the median when none qualifies."""
    for q in qs:
        if beyond(len(samples), q) >= MIN_BEYOND:
            return q, percentile(samples, q)
    return 0.5, percentile(samples, 0.5)


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def plateaued(round_s: list[float], tol: float, min_rounds: int) -> bool:
    """Warm-up is over when at least ``min_rounds`` rounds ran and the
    last one is within ``tol`` of the best round before it: no longer
    falling and not a spike."""
    if len(round_s) < max(2, min_rounds):
        return False
    best = min(round_s[:-1])
    return abs(round_s[-1] - best) <= tol * best
