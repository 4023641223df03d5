"""In-memory spans around the calls the benchmark makes into each layer.

A span has a name, a layer, start and end (``time.perf_counter`` seconds),
the id of the span that caused it and the run id. Spans stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    layer: str
    start: float
    end: float
    run_id: str


class Tracer:
    """Collects spans; a disabled tracer records nothing and costs one
    attribute check per call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        #: parent for spans opened on threads that have no open span
        self.root_id: int | None = None
        #: seconds spent inside the tracer's own bookkeeping
        self.bookkeeping_s = 0.0

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def add(
        self,
        name: str,
        layer: str,
        start: float,
        end: float,
        parent_id: int | None = None,
    ) -> int:
        """Record a finished span; returns its id (0 when disabled)."""
        if not self.enabled:
            return 0
        t = time.perf_counter()
        if parent_id is None:
            stack = self._stack()
            parent_id = stack[-1] if stack else self.root_id
        span_id = next(self._ids)
        with self._lock:
            self.spans.append(
                Span(span_id, parent_id, name, layer, start, end, self.run_id)
            )
            self.bookkeeping_s += time.perf_counter() - t
        return span_id

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Time the enclosed block as a child of this thread's open span;
        yields the new span's id (0 when disabled)."""
        if not self.enabled:
            yield 0
            return
        t = time.perf_counter()
        stack = self._stack()
        parent_id = stack[-1] if stack else self.root_id
        span_id = next(self._ids)
        stack.append(span_id)
        if self.root_id is None:
            self.root_id = span_id
        with self._lock:
            self.bookkeeping_s += time.perf_counter() - t
        start = time.perf_counter()
        try:
            yield span_id
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(span_id, parent_id, name, layer, start, end, self.run_id)
                )
                self.bookkeeping_s += time.perf_counter() - end

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"run_id": self.run_id, **extra,
                 "spans": [asdict(s) for s in self.spans]},
                f,
                default=float,
            )


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append((s.start, s.end))
    return {
        s.span_id: (s.end - s.start)
        - _covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


def layer_self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer, in seconds."""
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + own[s.span_id]
    return out
