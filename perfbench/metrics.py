"""Summary arithmetic for the benchmark: percentiles, failure ratio, spread.

Pure functions over lists of numbers; no Spark, no I/O.
"""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-th percentile (0..100) by linear interpolation between
    closest ranks (numpy's default ``linear`` method).

    >>> percentile([1, 2, 3, 4], 50)
    2.5
    """
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def fail_ratio(failed: int, attempted: int) -> float:
    """Failed or wrong operations as a share of those attempted."""
    if attempted < 1:
        raise ValueError("fail_ratio needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def quartile_spread(values: Sequence[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with the quartiles ``statistics.quantiles(values, n=4)`` gives
    (its default ``exclusive`` method)."""
    if len(values) < 2:
        raise ValueError("quartile spread needs at least two values")
    q1, med, q3 = statistics.quantiles(values, n=4)
    if med == 0:
        raise ValueError("quartile spread of a sample whose median is 0")
    return (q3 - q1) / abs(med)


def latency_summary(rounds: Sequence[Sequence[float]]) -> dict:
    """Latency percentiles in ms over every operation of every round, and
    operations completed per second of operation time: the median over the
    rounds of each round's rate, so one round slowed by the host moves it
    less than a rate over the whole run would."""
    lat = [x for r in rounds for x in r]
    if not lat:
        raise ValueError("latency summary of no operations")
    rates = []
    for r in rounds:
        if r:
            if sum(r) <= 0:
                raise ValueError("a round's operation time must be positive")
            rates.append(len(r) / sum(r))
    return {
        "n": len(lat),
        "p50_ms": percentile(lat, 50) * 1000.0,
        "p90_ms": percentile(lat, 90) * 1000.0,
        "ops_per_s": statistics.median(rates),
    }
