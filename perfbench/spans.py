"""In-memory spans around the benchmark's calls into each layer.

A span is (name, start, end, parent, run id), times in epoch seconds so
spans line up with Spark's event-log timestamps. Spans stay in memory
and are written once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time


class Trace:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        idx = len(self.spans)
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, **attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None,
            **attrs) -> int:
        """Record a span measured elsewhere (e.g. a Spark job from the
        event log) under ``parent``; returns its index."""
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "run_id": self.run_id,
                           **attrs})
        return len(self.spans) - 1

    def index(self, rec: dict) -> int:
        return next(i for i, s in enumerate(self.spans) if s is rec)

    def self_time(self, idx: int) -> float:
        """Duration of span ``idx`` minus the part its children cover."""
        s = self.spans[idx]
        lo, hi = s["start"], s["end"]
        kids = sorted((max(c["start"], lo), min(c["end"], hi))
                      for c in self.spans
                      if c["parent"] == idx and c["end"] is not None)
        covered, cur = 0.0, lo
        for a, b in kids:
            a = max(a, cur)
            if b > a:
                covered += b - a
                cur = b
        return (hi - lo) - covered

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str):
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)
