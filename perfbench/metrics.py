"""Metric arithmetic shared by the runner and its tests (no Spark here).

Intervals are ``(start, end)`` pairs in seconds.  A span is a
``tracing.Span``-like object with ``sid``, ``start``, ``end`` and ``parent``.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float):
    """Intervals cut to ``[lo, hi]``; empty pieces dropped."""
    out = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b > a:
            out.append((a, b))
    return out


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total time covered by at least one interval (overlaps counted once)."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(start: float, end: float, jobs: Iterable[tuple[float, float]]) -> float:
    """An op's wall time not covered by any of its Spark jobs."""
    return (end - start) - union_length(clip(jobs, start, end))


def self_times(spans: Sequence) -> dict:
    """``sid -> self time``: a span's duration minus the part of its
    interval that its direct children cover."""
    children: dict = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start)
        - union_length(clip(children.get(s.sid, ()), s.start, s.end))
        for s in spans
    }


def fail_frac(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("no ops attempted")
    return failed / attempted


def slot_util(executor_run_s: float, job_s: float, slots: int) -> float:
    """Share of the job-time × slots capacity the executors kept busy."""
    return executor_run_s / (job_s * slots) if job_s > 0 else 0.0
