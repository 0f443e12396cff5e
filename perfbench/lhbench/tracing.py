"""In-memory spans around layer calls, and their self-time arithmetic.

A span is ``name`` (``<layer>.<call>``), start/end, the span that
enclosed it on the same thread, and the op id shared by every span of
one benchmark operation. Spans stay in memory and are written out once
at exit. With tracing off, :meth:`Tracer.span` records nothing.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    def __init__(self, enabled: bool = False, clock=time.time):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[tuple[int, str | None]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent, parent_op = stack[-1] if stack else (None, None)
        sid = next(self._ids)
        op = op if op is not None else parent_op
        stack.append((sid, op))
        start = self.clock()
        try:
            yield
        finally:
            end = self.clock()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.sid):
                fh.write(json.dumps(asdict(s)) + "\n")


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {s.sid: (s.end - s.start) - covered(children[s.sid], s.start, s.end)
            for s in spans}


def layer_self_by_op(spans: list[Span]) -> dict[str, dict[str, float]]:
    """{op: {layer: summed self time}}. For each op the layer self
    times add up to its root span's wall time: the root's own self time
    is the untraced gap between the layer calls."""
    own = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if s.op is not None:
            out[s.op][s.layer] += own[s.sid]
    return {op: dict(layers) for op, layers in out.items()}
