"""Pure arithmetic behind the benchmark's metrics (no Spark here, so
the tests exercise it directly)."""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence

Interval = tuple[float, float]


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values))


def percentile_with_tail(values: Sequence[float], q: float,
                         min_tail: int = 10) -> tuple[float, int] | None:
    """The ``q``-quantile (0 < q < 1, nearest rank) and the number of
    samples strictly above it, or None when fewer than ``min_tail``
    samples lie beyond it: a percentile is reported only when the
    sample supports it."""
    if not values:
        return None
    xs = sorted(values)
    rank = max(1, math.ceil(q * len(xs)))
    value = xs[rank - 1]
    beyond = sum(1 for x in xs if x > value)
    if beyond < min_tail:
        return None
    return float(value), beyond


def interval_union(intervals: Sequence[Interval]) -> float:
    """Total length covered by a set of [start, end] intervals, each
    instant counted once however many intervals overlap it."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span: Interval, children: Sequence[Interval]) -> float:
    """A span's duration minus the part of it that its children cover
    (children are clipped to the span first)."""
    start, end = span
    clipped = [(max(start, s), min(end, e)) for s, e in children]
    return (end - start) - interval_union(clipped)


def driver_gap(op_wall: float, job_intervals: Sequence[Interval]) -> float:
    """Wall time of an op during which none of its Spark jobs ran."""
    return op_wall - interval_union(job_intervals)


def slot_util(task_run_s: float, slots: int, job_busy_s: float) -> float:
    """Share of the task slots busy while at least one job ran."""
    if slots <= 0 or job_busy_s <= 0:
        return 0.0
    return task_run_s / (slots * job_busy_s)


def write_amp(bytes_written: int, user_bytes: int) -> float:
    """Bytes written to storage per byte of user batch data."""
    if user_bytes <= 0:
        raise ValueError("write_amp needs a non-empty user batch")
    return bytes_written / user_bytes
