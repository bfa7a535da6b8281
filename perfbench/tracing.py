"""In-memory spans recorded from outside the package, around calls into
its layers.  Spans stay in memory and are written out once, when the run
ends, so recording costs a clock read and a list append."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Records spans of one run: name, start, end, parent and run id.

    Spans nest through a stack, so a span opened inside another is its
    child.  A span's self time is its duration minus the part of that
    interval its children cover."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "counts": {}}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, span_id: int) -> float:
        s = self.spans[span_id]
        return s["end"] - s["start"]

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span_id: int) -> float:
        s = self.spans[span_id]
        covered = 0.0
        cursor = s["start"]
        for c in sorted(self.children(span_id), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return (s["end"] - s["start"]) - covered

    def subtree(self, span_id: int) -> list[int]:
        out = [span_id]
        for c in self.children(span_id):
            out.extend(self.subtree(c["id"]))
        return out

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name`` (0.0 if none)."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        recs = [dict(s, self_s=self.self_time(s["id"])) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": recs}, fh, indent=1)
