"""Pure helpers behind the benchmark's numbers: percentiles (plain and
Harrell-Davis) with their sample-count rule, and interval unions
(driver gaps, span self time). No Spark, no I/O, so they are
unit-tested alone (perfbench/tests/)."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

# A percentile is supported when at least this many samples lie beyond
# it; below that one slow sample decides the reported tail.
TAIL_SAMPLES = 10
_HD_STEPS = 32


def percentile(values: Sequence[float], q: float) -> float:
    """The q-quantile (0 <= q <= 1) with linear interpolation between
    the two nearest ranks (numpy's default rule). Raises on no data."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def hd_percentile(values: Sequence[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: the mean of all order
    statistics, the i-th of n weighted by the Beta((n+1)q, (n+1)(1-q))
    mass on [(i-1)/n, i/n] (midpoint rule, _HD_STEPS points per slot).

    One order statistic jumps when samples cluster: on corpus_sf0.1 the
    median execution is tokenize_to_ids, whose warm walls split 0.6-0.8 s
    and 0.9-1.2 s, so the plain p50 of a run jumped with whether most of
    its tokenize_to_ids executions fell in the upper cluster. This
    estimate moves in proportion to how many did. Raises on no data,
    like ``percentile``."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    xs = sorted(values)
    n = len(xs)
    if n == 1 or q in (0.0, 1.0):
        return xs[-1] if q == 1.0 else xs[0]
    a, b = (n + 1) * q, (n + 1) * (1.0 - q)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    h = 1.0 / (n * _HD_STEPS)
    weights = [
        sum(math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
            for t in ((i * _HD_STEPS + k + 0.5) * h for k in range(_HD_STEPS)))
        for i in range(n)
    ]
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie beyond the q-quantile: n * (1 - q),
    rounded down."""
    return math.floor(n * (1.0 - q) + 1e-9)


def supported(n: int, q: float) -> bool:
    """True when the q-quantile of n samples has at least TAIL_SAMPLES
    samples beyond it (p90 needs n >= 100, p50 needs n >= 20)."""
    return samples_beyond(n, q) >= TAIL_SAMPLES


def highest_supported(n: int, levels: Iterable[float] = (0.5, 0.75, 0.9, 0.95, 0.99)) -> float | None:
    """The highest of ``levels`` that n samples support, or None."""
    ok = [q for q in levels if supported(n, q)]
    return max(ok) if ok else None


def union(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge intervals (start, end) into disjoint sorted intervals.
    Empty or inverted intervals are dropped."""
    merged: list[list[float]] = []
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if merged and start <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], end)
        else:
            merged.append([start, end])
    return [(s, e) for s, e in merged]


def covered(intervals: Iterable[tuple[float, float]], start: float, end: float) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    return sum(
        max(0.0, min(e, end) - max(s, start)) for s, e in union(intervals)
    )


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it that its children cover;
    with jobs as the children of a query, its driver gap."""
    return (end - start) - covered(children, start, end)

