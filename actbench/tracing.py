"""In-memory spans for the traced run, written out once at exit.

Each span records name, start, end, parent and run id. A layer's self time
is its spans' total duration minus the part covered by child spans.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Iterator


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, run_id: str) -> Iterator[None]:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": idx, "name": name, "parent": parent, "run_id": run_id,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self, run_id: str) -> dict[str, float]:
        """Summed self time per span name within one run."""
        spans = [s for s in self.spans if s["run_id"] == run_id]
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
