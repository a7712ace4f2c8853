"""In-memory spans for the traced benchmark run.

A span is (name, start, end, parent, run id). Spans are kept in memory
and written as JSON lines once the run ends, so recording one costs a
list append and two clock reads.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time the body as one span, nested under the innermost open span."""
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "id": len(self.spans)}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float) -> None:
        """Record a span whose bounds were measured elsewhere (a wave
        between two ``on_iteration`` callbacks)."""
        if self.enabled:
            self.spans.append({
                "name": name, "start": start, "end": end,
                "parent": self._stack[-1] if self._stack else None,
                "run": self.run_id, "id": len(self.spans)})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


#: a disabled tracer, for calls made outside a traced run
NO_TRACE = Tracer("", False)
