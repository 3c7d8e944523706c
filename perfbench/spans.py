"""In-memory spans recorded around calls into each layer of the job.

A span is (name, start, end, parent, run_id).  Spans are kept in a list and
handed to the caller when the traced run ends; nothing is written while the
job runs.  A layer's self time is its span's duration minus the part of that
interval its child spans cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans.  ``on_change`` is called with the innermost open
    span's name (None when none is open) whenever it changes, so the caller
    can label the work a span triggers (the benchmark sets Spark's job
    description)."""

    def __init__(self, run_id: str, on_change=None, clock=time.perf_counter):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._on_change = on_change
        self._clock = clock

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, self._clock(), float("nan"), parent, self.run_id))
        self._stack.append(idx)
        if self._on_change:
            self._on_change(name)
        try:
            yield
        finally:
            self.spans[idx].end = self._clock()
            self._stack.pop()
            if self._on_change:
                self._on_change(self.spans[self._stack[-1]].name if self._stack else None)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: duration minus the union of its children."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [s.duration - _covered(children.get(i, []), s.start, s.end)
            for i, s in enumerate(spans)]


def descendants(spans: list[Span], root: int) -> list[int]:
    """Indices of every span below ``root`` (not including it)."""
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [i for i, s in enumerate(spans) if s.parent == p]
        out.extend(kids)
        frontier.extend(kids)
    return sorted(out)


def coverage(spans: list[Span], root: int) -> float:
    """Share of the root span's wall covered by layer self times, i.e. the
    self times of every span below it over the root's duration."""
    st = self_times(spans)
    return sum(st[i] for i in descendants(spans, root)) / spans[root].duration

