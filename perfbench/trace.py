"""In-memory spans and their self-time arithmetic.

A span is (name, start, end, parent, run id). Spans are kept in a list
until the run ends; a layer's self time is its span's duration minus the
part of that interval its child spans cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float  # epoch seconds, the clock Spark's status store uses
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op, so
    the untraced runs carry no tracing work."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        span = Span(len(self.spans), name, start, end, parent, self.run_id)
        self.spans.append(span)
        return span.id

    @contextmanager
    def span(self, name: str):
        """Time the body as a child of the innermost open span; yields the
        span id (None when disabled) so callers can attach children later."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def records(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [{**asdict(s), "self_s": selfs[s.id]} for s in self.spans]


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(s.start, s.end, children.get(s.id, []))
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per span name."""
    out: dict[str, float] = {}
    for sid, t in self_times(spans).items():
        name = spans[sid].name
        out[name] = out.get(name, 0.0) + t
    return out
