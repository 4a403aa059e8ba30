"""In-memory spans for the traced run.

A span records name, start, end, parent span and pass id, plus any
attributes the caller attaches (Spark counters, row counts).  Spans
stay in memory while the run measures and are written to one JSON
file when it ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its direct children cover
        (children of one span never overlap: calls are sequential)."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def write(self, path: str, meta: dict) -> None:
        own = self.self_times()
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = []
        for s in self.spans:
            rec = dict(s)
            rec["start"] = s["start"] - t0
            rec["end"] = s["end"] - t0
            rec["self_s"] = own[s["id"]]
            out.append(rec)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": out}, f, indent=1, default=str)
