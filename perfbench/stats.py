"""Latency summaries used by every workload.

A timing is reported as its median plus a *tail*: the highest
percentile that still leaves at least ``TAIL_BEYOND`` samples above
it, never lower than the median. The number of samples beyond the
reported tail is returned with it, so a tail read from a short run
(fewer than ten samples beyond) is recognisable as such.
"""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return statistics.median(samples)


def tail(samples: list[float]) -> tuple[float, int]:
    """(tail value, samples strictly beyond it in rank order).

    With ``n`` sorted samples the highest rank leaving ten beyond is
    ``n - 11``; below 22 samples that rank falls under the median,
    so the upper median rank ``n // 2`` is used and fewer than ten
    lie beyond."""
    if not samples:
        raise ValueError("tail of no samples")
    ordered = sorted(samples)
    n = len(ordered)
    rank = max(n - 1 - TAIL_BEYOND, n // 2)
    return ordered[rank], n - 1 - rank


def summarize(samples: list[float], scale: float = 1.0) -> dict[str, float]:
    """p50, tail and counts of ``samples`` multiplied by ``scale``."""
    value, beyond = tail(samples)
    return {
        "p50": median(samples) * scale,
        "tail": value * scale,
        "tail_beyond": beyond,
        "n": len(samples),
    }


def kind_geomean(latencies: dict[str, list[float]]) -> float:
    """Geometric mean over operation kinds of each kind's geometric-mean
    latency. Each kind counts once however often it ran, so where a
    timed loop happens to stop does not change the weights."""
    logs = [statistics.fmean(math.log(x) for x in xs) for xs in latencies.values() if xs]
    if not logs:
        raise ValueError("geometric mean of no samples")
    return math.exp(statistics.fmean(logs))
