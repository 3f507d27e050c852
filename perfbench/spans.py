"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, op id). Spans are opened around
each call the benchmark makes into a layer's public function and stay
in memory until the run ends; ``self_times`` then charges every span
its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    """Records nested spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span less its children."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = s["end"] - s["start"] - child.get(i, 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out
