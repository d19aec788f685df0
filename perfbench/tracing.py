"""In-memory span recorder for the traced run.

Spans are recorded only in the benchmark's own code, around calls into
the engine's public functions, plus one span per pass and per set-up
step. They stay in memory and are written out once, when the run ends.
With tracing off every method is a no-op, so untraced runs pay one
attribute check per boundary. Spans are opened from one thread only.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from derive import self_times


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []  # ids of the enclosing spans

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans),
               "parent": self._open[-1] if self._open else None,
               "name": name, "t0": time.perf_counter(), "t1": None, **attrs}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield
        finally:
            self._open.pop()
            rec["t1"] = time.perf_counter()

    @contextmanager
    def off(self):
        """Record nothing inside the block (warm-up and comparison
        passes)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def durations(self, name: str) -> list[float]:
        return [s["t1"] - s["t0"] for s in self.spans
                if s["name"] == name and s["t1"] is not None]

    def write(self, path: str) -> None:
        """Write the finished spans, each with its self time, as JSON."""
        done = [s for s in self.spans if s["t1"] is not None]
        selfs = self_times(done)
        for s in done:
            s["self_s"] = selfs[s["id"]]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(done, f)
