"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (name, start, end, parent). Spans stay in memory and are written
once, when the run ends. A layer's self time is its span's duration minus
the part of that interval its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        """Time the enclosed block; a no-op when tracing is off."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": idx, "name": name, "parent": parent,
                           "start": time.perf_counter() - self._t0, "end": None})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter() - self._t0

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span timed elsewhere (``time.perf_counter`` values),
        under the currently open span."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "parent": self._stack[-1] if self._stack else None,
                               "start": start - self._t0, "end": end - self._t0})

    def children(self, idx: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == idx]

    def covered_s(self, idx: int) -> float:
        """Length of the union of the child intervals of span ``idx``."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(idx))
        total, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total

    def self_times(self) -> dict[str, float]:
        """Self seconds summed per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - self.covered_s(s["id"])
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"summary": summary, "self_s": self.self_times(),
                       "spans": self.spans}, f, indent=1)
