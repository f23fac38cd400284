"""In-memory spans around the benchmark's calls into the engine's layers.

A span is (name, start, end, parent, run): wall-clock epoch seconds, so the
spans line up with the millisecond timestamps of Spark's status store. Spans
stay in memory and are written as JSON once, at exit. With tracing off,
``span`` is a no-op context manager.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans, **extra}, fh, indent=1)


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= cur_end:
            continue
        total += b - max(a, cur_end)
        cur_end = b
    return total
