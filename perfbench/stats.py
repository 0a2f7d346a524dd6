"""The benchmark's arithmetic, kept free of Spark so it can be tested
on its own (``python3 -m pytest perfbench``)."""

from __future__ import annotations

import math
import statistics
from collections.abc import Iterable, Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` of the sample at or below it. ``q`` is a share in (0, 1]."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < q <= 1:
        raise ValueError(f"q must be in (0, 1], got {q}")
    ordered = sorted(values)
    rank = max(1, math.ceil(q * len(ordered) - 1e-9))
    return ordered[rank - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``
    percentile — the tail the percentile is read from."""
    return n - max(1, math.ceil(q * n - 1e-9))


def supported_percentile(n: int, tail: int = 10) -> float | None:
    """The highest whole percentile (as a share) that leaves at least
    ``tail`` samples beyond it, or ``None`` when ``n`` is too small
    for even the median."""
    for pct in range(99, 49, -1):
        if beyond(n, pct / 100) >= tail:
            return pct / 100
    return None


def write_amp(bytes_written: int, logical_bytes: int) -> float:
    """Bytes written under the destination per byte of rows that were
    new or changed. Zero when nothing logical changed and nothing was
    written; infinite when bytes were written for no change."""
    if logical_bytes < 0 or bytes_written < 0:
        raise ValueError("byte counts cannot be negative")
    if logical_bytes == 0:
        return 0.0 if bytes_written == 0 else math.inf
    return bytes_written / logical_bytes


def idle_core_s(cores: int, exec_wall_s: float, task_s: float) -> float:
    """Core-seconds the engine held but did not run a task in:
    ``cores x execution wall - task-seconds``. Negative values (task
    clocks overlapping the wall clock's rounding) are clamped to 0."""
    return max(0.0, cores * exec_wall_s - task_s)


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover
    (children are clipped to the parent's interval first)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def steal_share(before: Sequence[int], after: Sequence[int]) -> float:
    """Share of the machine's CPU time stolen by the hypervisor between
    two readings of the ``cpu`` line of ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...; steal is the 8th).
    The guest and guest_nice fields after it are already counted in
    user and nice, so they are left out of the total."""
    delta = [b - a for a, b in zip(before[:8], after[:8])]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with the quartiles of
    ``statistics.quantiles(values, n=4)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf
