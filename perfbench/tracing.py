"""In-memory span recorder for the traced run.

A span has a name (``<layer>.<what>``), start, end, the span that caused
it, and the id of the operation it belongs to; every span of one client
operation shares that id, across the client and server threads. Spans
stay in memory until :meth:`Tracer.write` at the end of the run.

The untraced run uses :class:`NullTracer`, whose spans cost one call.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    op: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, parent: Span | None = None):
        """Open a span. Parent and operation id default to the innermost
        open span of this thread; pass ``parent`` to link across threads."""
        parent = parent or self.current()
        if op is None:
            op = parent.op if parent else ""
        s = Span(next(self._ids), op, name, parent.sid if parent else None, time.perf_counter())
        stack = self._stack()
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def durations_ms(self, name: str) -> list[float]:
        return [(s.end - s.start) * 1e3 for s in self.spans if s.name == name]

    def self_time_ms(self) -> dict[str, float]:
        """Total self time per layer: each span's duration minus the part
        of its interval that its child spans cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = 0.0
            hi = s.start
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                lo, end = max(c.start, hi, s.start), min(c.end, s.end)
                if end > lo:
                    covered += end - lo
                    hi = end
            out[s.layer] += (s.end - s.start - covered) * 1e3
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


class NullTracer:
    enabled = False

    def current(self) -> None:
        return None

    def span(self, name: str, op: str | None = None, parent: Span | None = None):
        return contextlib.nullcontext()
