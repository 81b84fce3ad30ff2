"""In-memory spans (name, start, end, parent) around calls into the
engine's public functions.  Times are ``time.perf_counter()`` seconds,
which on Linux read the system-wide monotonic clock, so spans from the
benchmark's processes share one time base."""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def adopt(self, spans: list[dict]) -> None:
        """Attach another process's spans under the current span."""
        base = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        for s in spans:
            self.spans.append({
                **s, "id": base + s["id"],
                "parent": parent if s["parent"] is None
                else base + s["parent"]})
