"""Pure helpers of the benchmark: interval arithmetic, order statistics and
the order-independent output fingerprint.  Nothing here imports Spark, so
the unit tests in ``test_stats.py`` run in milliseconds."""

from __future__ import annotations

import statistics
from typing import Iterable

# a row hash contributes its low 40 bits to the fingerprint sum: 2**23 rows
# of 2**40 stay below 2**63, so the Spark-side long sum can never overflow
# (ANSI mode would raise on overflow)
HASH_BITS = 40
HASH_MOD = 1 << HASH_BITS


def interval_union(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge closed intervals into a sorted list of disjoint ones."""
    out: list[tuple[float, float]] = []
    for a, b in sorted((a, b) for a, b in intervals if b >= a):
        if out and a <= out[-1][1]:
            if b > out[-1][1]:
                out[-1] = (out[-1][0], b)
        else:
            out.append((a, b))
    return out


def covered_seconds(intervals: Iterable[tuple[float, float]], start: float, end: float) -> float:
    """Length of the part of [start, end] that the intervals cover."""
    total = 0.0
    for a, b in interval_union(intervals):
        lo, hi = max(a, start), min(b, end)
        if hi > lo:
            total += hi - lo
    return total


def driver_gap_s(start: float, end: float, job_intervals: Iterable[tuple[float, float]]) -> float:
    """Seconds of the op wall [start, end] during which no Spark job ran."""
    return (end - start) - covered_seconds(job_intervals, start, end)


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no values")
    return float(statistics.median(vals))


def quartiles(values: Iterable[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) the way ``statistics.quantiles(values, n=4)`` cuts
    them (the 'exclusive' method)."""
    vals = list(values)
    if len(vals) < 2:
        raise ValueError("quartiles need at least two values")
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return float(q1), float(q2), float(q3)


def iqr_share(values: Iterable[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def fingerprint(row_hashes: Iterable[int]) -> tuple[int, int]:
    """Order-independent fingerprint of a multiset of 64-bit row hashes:
    (row count, sum of each hash's low ``HASH_BITS`` bits).  The Spark
    aggregate ``sparkstats.fingerprint_cols`` computes the same pair."""
    n = 0
    total = 0
    for h in row_hashes:
        n += 1
        total += h % HASH_MOD  # Python's % is non-negative, like Spark's pmod
    return n, total
