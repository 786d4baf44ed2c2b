"""In-memory spans for the traced run.

A span records (name, start, end, parent, op) around one call into an
engine layer; the layer is the name's first dotted part (``session``,
``sources``, ``functions``, ``operators``, ``plans``, ``pipelines``).
Spans stay in memory until the run ends, then go to one JSON file. The
untraced run uses :class:`NullTracer`, whose spans cost one attribute
lookup and a ``nullcontext``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

LAYERS = ("session", "sources", "functions", "operators", "plans", "pipelines")


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op=None):
        idx = len(self.spans)
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": op}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + value

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"] is not None]

    def median(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def per_op(self, name: str) -> dict:
        """Total duration of the spans called ``name``, per operation id."""
        out: dict = {}
        for s in self.spans:
            if s["name"] == name and s["end"] is not None:
                out[s["op"]] = out.get(s["op"], 0.0) + s["end"] - s["start"]
        return out

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's own children.
        Spans outside the engine layers (the benchmark's own ``op.*``
        spans) are not reported, but their children are."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for i, s in enumerate(self.spans):
            layer = s["name"].split(".", 1)[0]
            if layer in out and s["end"] is not None:
                out[layer] += (s["end"] - s["start"]) - child[i]
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [dict(s, start=s["start"] - t0, end=(s["end"] or t0) - t0) for s in self.spans]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": spans, "counts": self.counts, **extra}, fh)


class NullTracer:
    enabled = False

    def span(self, name: str, op=None):
        return contextlib.nullcontext()

    def count(self, name: str, value: float) -> None:
        pass
