"""In-memory spans for the benchmark's traced runs.

A span is ``(id, name, start, end, parent)`` with wall-clock seconds. The
benchmark opens spans around its own calls into each layer and adds spans
rebuilt from Spark's ``StreamingQueryProgress`` for work that runs inside
the engine. Nothing is written until the run ends. A layer's self time is
its spans' duration minus the part of it that child spans cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None) -> int | None:
        """Record a finished span; the parent defaults to the open span."""
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent))
        return sid

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = self.add(name, time.time(), 0.0)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per span name, summed over its spans."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union(s.start, s.end, children.get(s.id, []))
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def to_json(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def _union(lo: float, hi: float, spans: list[Span]) -> float:
    """Length of [lo, hi] covered by the union of ``spans``."""
    total, reach = 0.0, lo
    for s in sorted(spans, key=lambda s: s.start):
        a, b = max(s.start, reach), min(s.end, hi)
        if b > a:
            total += b - a
            reach = b
    return total
