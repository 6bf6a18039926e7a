"""Pure helpers for the benchmark's statistics: percentiles, span self
time, busy-interval unions and job-window attribution.  No Spark here,
so the tests exercise them directly."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


@dataclass(frozen=True)
class Stage:
    """One executed stage, as read from the status store."""
    stage_id: int
    start_ms: int | None
    end_ms: int | None
    tasks: int
    cpu_s: float
    run_s: float
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int
    peak_mem_b: int


@dataclass
class Span:
    """A timed call at a layer boundary.  ``parent`` is the id of the
    span that caused it (None for a request's root); ``request`` is the
    id shared by every span of one request."""
    span_id: int
    parent: int | None
    request: int
    name: str
    start: float
    end: float = math.nan

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# A tail percentile is reported only with this many samples beyond it,
# and only from the median up.
TAIL_MIN_BEYOND = 10
TAIL_FLOOR = 50


def tail_percentile(samples):
    """The highest whole percentile p with at least ``TAIL_MIN_BEYOND``
    samples above its nearest-rank value: ``(p, value, n_beyond)``, or
    None when even the ``TAIL_FLOOR`` percentile has too few samples
    beyond it."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, TAIL_FLOOR - 1, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= TAIL_MIN_BEYOND:
            return p, xs[rank - 1], n - rank
    return None


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` (start, end) clipped to
    ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict:
    """span id -> self time in ms: the span's duration minus the part of
    it that its children cover."""
    kids: dict = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {sp.span_id: sp.ms - covered(kids.get(sp.span_id, ()),
                                        sp.start, sp.end) * 1e3
            for sp in spans}


def outermost(spans, name: str) -> list:
    """Spans called ``name`` that have no ancestor of the same name
    (a re-entrant call is counted once, at its outermost frame)."""
    by_id = {sp.span_id: sp for sp in spans}
    out = []
    for sp in spans:
        if sp.name != name:
            continue
        p = by_id.get(sp.parent)
        while p is not None and p.name != name:
            p = by_id.get(p.parent)
        if p is None:
            out.append(sp)
    return out


def attribute_jobs(windows, jobs) -> dict:
    """Assign Spark jobs to requests by job-id window.

    ``windows`` holds ``(request id, job group, first job id, last job
    id)`` per request (one client, so windows never overlap);
    ``jobs`` holds ``(job id, job group)``.  Returns request id ->
    ``{"jobs": [ids], "outside_group": n}`` where ``outside_group``
    counts the request's jobs that did not carry its job group (jobs
    submitted from threads that do not inherit it)."""
    group_of = dict(jobs)
    out = {}
    for rid, group, first, last in windows:
        ids = [j for j in range(first, last + 1) if j in group_of]
        out[rid] = {"jobs": ids,
                    "outside_group": sum(group_of[j] != group for j in ids)}
    return out
