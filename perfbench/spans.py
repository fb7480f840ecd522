"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, a start and an end in seconds, the span that caused
it, and the id of the request it belongs to. Spans timed here use
``time.perf_counter``; micro-batch phases reported by Spark are added
with wall-clock times, and only ever nest in each other. Spans stay
in memory until the run ends; ``write`` then dumps them as JSON. A
layer's self time is its span's duration minus the part of that
interval its child spans cover.

A disabled tracer records nothing and its ``span`` costs one attribute
test, so the untraced run pays no tracing cost.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    request: int
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the ``with`` body. Nested spans on the
        same thread become its children and share its request id."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sp = Span(sid, parent.id if parent else None,
                  parent.request if parent else sid, name, time.perf_counter(), 0.0, attrs)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        """Record a span whose interval was measured elsewhere (for
        example a phase of a micro-batch reported by Spark)."""
        if not self.enabled:
            return 0
        sid = next(self._ids)
        with self._lock:
            request = next((s.request for s in self.spans if s.id == parent), sid)
            self.spans.append(Span(sid, parent, request, name, start, end, attrs))
        return sid

    def self_times(self) -> dict[str, list[float]]:
        """Self time of every span, grouped by span name."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, list[float]] = {}
        for s in self.spans:
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out.setdefault(s.name, []).append((s.end - s.start) - covered)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans]}, fh)
