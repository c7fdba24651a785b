"""In-memory spans recorded around the benchmark's calls into each
layer. Nothing here reaches into the package: a span covers one public
call made from the benchmark's own files."""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """Spans form a tree: one run span, op spans under it, layer-call
    spans under each op. Every span carries the id of its op."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, seconds: float, **attrs) -> None:
        """A child span of the open span whose duration was measured by
        the program itself (e.g. a stream's ``durationMs``); it is laid
        at the parent's start, so only its length is meaningful."""
        parent = self._stack[-1]
        self.spans.append({
            "id": len(self.spans), "parent": parent["id"],
            "op": parent["op"], "name": name, "start": parent["start"],
            "end": parent["start"] + seconds, "attrs": dict(attrs),
        })

    @staticmethod
    def duration(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover (children never overlap: one closed-loop client)."""
        out: dict[str, float] = {}
        for s in self.spans:
            own = self.duration(s) - sum(
                self.duration(c) for c in self.children(s))
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f,
                      indent=1)
