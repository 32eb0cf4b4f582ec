"""Span recorder for the traced benchmark run.

A span is one call the benchmark makes into a colcrush layer (or a
benchmark-side grouping such as a round or an operation): name, start,
end, parent span and run id. Spans stay in memory and are written as
JSONL once, at exit, so recording costs two clock reads and a list
append per call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans when ``enabled``; a disabled tracer still yields
    span dicts (so callers attach counts the same way) but keeps none."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "run": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its
    interval that its direct children cover. Children of one parent
    never overlap here (one client, calls made one after another), so
    their durations add."""
    covered: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - covered.get(s["id"], 0.0) for s in spans}


def layer_table(spans: list[dict]) -> dict[str, dict]:
    """Per-layer aggregate of the spans that name a colcrush layer
    (``layer`` attribute): calls, total and self seconds."""
    selfs = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        layer = s.get("layer")
        if layer is None:
            continue
        row = out.setdefault(layer, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        row["calls"] += 1
        row["total_s"] += s["end"] - s["start"]
        row["self_s"] += selfs[s["id"]]
    return out
