"""In-memory spans recorded by the benchmark around the engine's public calls.

A span has a name, start and end (perf_counter seconds), the id of the span
that was open when it started (its parent) and a request id shared by the
spans of one operation. Spans stay in memory and are written once, when the
run ends. A disabled tracer records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.bookkeeping_s = 0.0  # the tracer's own time, part of the overhead

    def span(self, name: str, request: str | None = None):
        return self._span(name, request) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str, request: str | None):
        t = time.perf_counter()
        parent = self._open[-1] if self._open else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "request": request}
        self.spans.append(rec)
        self._open.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + self.duration(s)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + self.duration(s) - child.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)
