"""In-memory spans recorded by the benchmark around calls into each layer.

A span has a name, a start, an end and the span that was open when it
began (its parent).  Self time is the duration minus the time covered
by the span's children.  A disabled tracer records nothing.
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

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def with_self_time(self) -> list[dict]:
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            {**s, "dur_s": s["end"] - s["start"], "self_s": s["end"] - s["start"] - child_time.get(s["id"], 0.0)}
            for s in self.spans
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.with_self_time(), f, indent=1)

    def total(self, name: str, **match) -> float:
        """Summed duration of the spans called ``name`` whose attributes match."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        )
