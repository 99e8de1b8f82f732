"""In-memory spans recorded around calls into the program's layers.

A span is (id, name, parent id, start, end) on ``time.perf_counter``. Spans
stay in a list until the run ends and ``dump`` writes them out, so tracing
costs two clock reads and one list append per span. ``NULL`` is the
tracer of untraced passes: its ``span`` does nothing.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Duration minus the part covered by child spans (children of one
        span never overlap: calls are sequential)."""
        covered = sum(c["end"] - c["start"] for c in self.children(span["id"]))
        return span["end"] - span["start"] - covered

    def totals_under(self, root: dict) -> dict[str, float]:
        """Summed duration per span name over the children of ``root``."""
        out: dict[str, float] = defaultdict(float)
        for c in self.children(root["id"]):
            out[c["name"]] += c["end"] - c["start"]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(self.spans, fh)


class _NullTracer:
    def span(self, name: str):
        return nullcontext()


NULL = _NullTracer()
