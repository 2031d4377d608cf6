"""In-memory spans around the benchmark's calls into each layer.

A span has a name (the layer), start and end (``perf_counter`` seconds),
the id of the span that caused it, and the run id shared by every span
of one workload call.  Spans stay in memory and are written out once,
when the benchmark ends.  A layer's self time is its duration minus the
part of it that its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    run: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; with ``spark`` set, each span also names the
    Spark job group ``<run>:<phase>`` for the jobs launched inside it."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, run: str, phase: str | None = None):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, run, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        if self.spark is not None and phase is not None:
            self.spark.sparkContext.setJobGroup(f"{run}:{phase}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.spark is not None and phase is not None:
                self.spark.sparkContext.setJobGroup(f"{run}:other", "")

    def self_times(self, run: str) -> dict[str, float]:
        """Self time per span name over the spans of ``run``."""
        mine = [s for s in self.spans if s.run == run]
        out: dict[str, float] = {}
        for s in mine:
            covered = sum(c.duration for c in mine if c.parent == s.id)
            out[s.name] = out.get(s.name, 0.0) + s.duration - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
