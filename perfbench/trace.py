"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run id), recorded by the benchmark
around each call it makes into a layer of the engine. Spans stay in a list
while the run goes and are written out once, when it ends. A disabled
tracer records nothing, so the untraced run pays only for entering a
context manager per call.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time the block as a child of the innermost open span. Yields the
        span (None when disabled); its ``end`` is set when the block exits,
        also when it raises."""
        if not self.enabled:
            yield None
            return
        s = Span(
            len(self.spans), name, time.perf_counter(), 0.0,
            self._open[-1] if self._open else None, self.run_id,
        )
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s
        finally:
            self._open.pop()
            s.end = time.perf_counter()

    def table(self) -> list[dict]:
        """Per span name: calls, total seconds and self seconds. Self time is
        the span's duration minus the time its child spans cover (children
        of one span never overlap: the benchmark is single-threaded)."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.seconds
        rows: dict[str, dict] = {}
        for s in self.spans:
            r = rows.setdefault(s.name, {"name": s.name, "calls": 0, "total_s": 0.0, "self_s": 0.0})
            r["calls"] += 1
            r["total_s"] += s.seconds
            r["self_s"] += s.seconds - child_s[s.id]
        return sorted(rows.values(), key=lambda r: -r["self_s"])

    def write(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
