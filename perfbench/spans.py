"""In-memory span tracer for the benchmark's traced runs.

A span is (name, start, end, parent, request id). Spans are recorded
around each call the benchmark makes into a library layer, kept in a
list and written out once when the run ends. A layer's self time is
its spans' durations minus the part of each interval that child spans
cover. With tracing off, ``span`` hands back a shared no-op context so
untraced runs pay one attribute check per call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None

    @property
    def layer(self) -> str:
        """``store.read_store`` → ``store``; ``query.terms`` → ``query``."""
        return self.name.split(".", 1)[0]


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL = _Null()


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.request: str | None = None

    def span(self, name: str):
        if not self.enabled:
            return _NULL
        return self._span(name)

    @contextmanager
    def _span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(sid, name, time.perf_counter(), 0.0, parent, self.request)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds of self time per layer: each span's duration minus the
    time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - covered(kids.get(s.sid, []), s.start,
                                          s.end)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


def span_cost_us(n: int = 20_000) -> float:
    """Microseconds one recorded span costs (measured on a throwaway
    tracer)."""
    t = Tracer(True)
    t0 = time.perf_counter()
    for _ in range(n):
        with t.span("x.y"):
            pass
    return (time.perf_counter() - t0) / n * 1e6
