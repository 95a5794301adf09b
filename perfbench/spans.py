"""In-memory spans around the benchmark's calls into each layer."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, run id), kept in memory and written
    out once with :meth:`write`."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time(self, span: dict) -> float:
        """Duration minus the part covered by the span's children (which
        run sequentially, so their durations add)."""
        kids = sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] == span["id"])
        return span["end"] - span["start"] - kids

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
