"""Spark-free arithmetic behind the reported numbers, kept apart so the
self-tests can check it without a session."""

from __future__ import annotations

import statistics


def summary(values: list[float]) -> dict:
    """Median, quartiles (``statistics.quantiles(n=4)``, exclusive method)
    and sample count. Fewer than two samples repeat the single value."""
    if not values:
        raise ValueError("no samples")
    if len(values) == 1:
        q1 = med = q3 = float(values[0])
    else:
        q1, med, q3 = statistics.quantiles(values, n=4)
    return {"p50": statistics.median(values), "q1": q1, "q3": q3, "n": len(values)}


def interval_union(intervals: list[tuple[float, float]], lo: float | None = None,
                   hi: float | None = None) -> float:
    """Length of the union of ``[start, end]`` intervals, each first clipped
    to ``[lo, hi]`` when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(span: tuple[float, float], jobs: list[tuple[float, float]]) -> float:
    """Span wall time not covered by any of its Spark jobs: driver-side
    planning, Python work and scheduling between jobs."""
    s, e = span
    return (e - s) - interval_union(jobs, s, e)


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval its children cover."""
    return driver_gap(span, children)


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


class Outcomes:
    """Counts operations and failures; an exception and a wrong answer both
    count as one failed operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def record(self, name: str, ok: bool, why: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.messages.append(f"{name}: {why or 'output mismatch'}")

    @property
    def frac(self) -> float:
        return failed_frac(self.attempted, self.failed)
