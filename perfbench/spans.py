"""In-memory spans for the traced run (no Spark).

A span has a name, a start, an end and the span that caused it.  Spans
are opened around the benchmark's calls into each layer; every span id
doubles as the Spark job group of the jobs launched inside it, so the
engine's job, stage and task records join back to the call that caused
them.  Spans stay in memory and are written out once, at exit.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """Collects nested spans; ``on_enter``/``on_exit`` let the caller
    tag engine work with the active span (the job group)."""

    def __init__(self, clock=time.time, on_enter=None, on_exit=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._clock = clock
        self._on_enter = on_enter
        self._on_exit = on_exit

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"s{len(self.spans)}", name, parent.id if parent else None, self._clock())
        self.spans.append(s)
        self._stack.append(s)
        if self._on_enter:
            self._on_enter(s)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(self._stack[-1] if self._stack else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of [lo, hi] that the union of *intervals*
    covers; overlapping intervals count once."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover (children may overlap one another)."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end if s.end is not None else s.start))
    return {
        s.id: s.duration - covered(kids.get(s.id, []), s.start, s.start + s.duration)
        for s in spans
    }


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span whose interval contains time *t*."""
    depth = {}
    by_id = {s.id: s for s in spans}
    best = None
    for s in spans:
        if s.end is not None and s.start <= t <= s.end:
            d, p = 0, s.parent
            while p is not None:
                d, p = d + 1, by_id[p].parent
            depth[s.id] = d
            if best is None or d > depth[best.id]:
                best = s
    return best
