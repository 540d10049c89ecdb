"""In-memory span recorder for the traced run.

Spans are opened around the benchmark's calls into each layer. Every span
carries the id of the operation it belongs to (one query execution or one
micro-batch), so the spans of one operation can be joined. They stay in
memory and are written once, at exit. With tracing off the recorder keeps
nothing.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager

from stats import Span, self_times


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op_of: dict[int, str] = {}
        self._next = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        """Time the ``with`` body as a child of the enclosing span."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
            if op is None and parent is not None:
                op = self.op_of.get(parent)
            self.op_of[sid] = op or ""
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, name, start, end))

    def add(
        self, name: str, start: float, end: float, op: str, parent: int | None = None
    ) -> int | None:
        """Record a span measured elsewhere (for example a micro-batch phase
        reported by Spark), on the ``perf_counter`` clock. Returns its id."""
        if not self.enabled:
            return None
        with self._lock:
            sid = self._next
            self._next += 1
            self.spans.append(Span(sid, parent, name, start, end))
            self.op_of[sid] = op
        return sid

    def self_times(self) -> dict[str, float]:
        with self._lock:
            return self_times(list(self.spans))

    def write(self, path: str) -> None:
        with self._lock:
            rows = [
                {
                    "id": s.span_id,
                    "parent": s.parent,
                    "op": self.op_of.get(s.span_id, ""),
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                }
                for s in self.spans
            ]
        with open(path, "w") as fh:
            json.dump({"spans": rows}, fh)
