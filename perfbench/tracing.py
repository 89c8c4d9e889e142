"""Spans kept in memory and Spark job labels.

Every op the benchmark runs is one span; each phase of it (build, plan,
exec, validate, write, read, arrow) is a child span. Each phase also sets
the Spark job group to ``<workload>:<op>:<phase>``, in traced and untraced
runs alike, so the status API can attribute every job. Phase spans are
only recorded when tracing is on; op spans always are, because the
end-to-end metrics are made from them.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import asdict, dataclass

PHASES = ("build", "plan", "exec", "validate", "write", "read", "arrow")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None  # index of the parent span
    op_id: int
    label: str  # the job group set while it ran

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, workload: str, traced: bool) -> None:
        self._sc = spark.sparkContext
        self.workload = workload
        self.traced = traced
        self.spans: list[Span] = []
        self._op: int | None = None  # index of the open op span
        self._next_op = 0
        self.self_seconds = 0.0  # time spent recording phase spans
        self.counts: dict[str, float] = {}  # work counted at layer boundaries

    @contextlib.contextmanager
    def op(self, name: str):
        """One closed-loop op; the span is recorded even if the op raises."""
        op_id = self._next_op
        self._next_op += 1
        span = Span(name, time.time(), 0.0, None, op_id, f"{self.workload}:{name}")
        self.spans.append(span)
        self._op = len(self.spans) - 1
        try:
            yield span
        finally:
            span.end = time.time()
            self._op = None

    @contextlib.contextmanager
    def phase(self, phase: str, detail: str = ""):
        """A phase of the open op; ``detail`` names the span, not the label."""
        if phase not in PHASES:
            raise ValueError(f"unknown phase {phase!r}")
        if self._op is None:
            raise RuntimeError("a phase runs inside an op")
        start = time.time()
        parent = self.spans[self._op]
        label = f"{parent.label}:{phase}"
        self._sc.setJobGroup(label, label)  # part of the phase: a JVM round trip
        if not self.traced:
            yield
            return
        t0 = time.perf_counter()
        name = f"{phase}.{detail}" if detail else phase
        self.spans.append(Span(name, start, 0.0, self._op, parent.op_id, label))
        span = self.spans[-1]
        self.self_seconds += time.perf_counter() - t0
        try:
            yield
        finally:
            span.end = time.time()

    def count(self, name: str, n: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wall(self) -> float:
        """Seconds spent in this tracer's ops."""
        return sum(s.seconds for s in self.ops())

    def ops(self) -> list[Span]:
        return [s for s in self.spans if s.parent is None]

    def children(self, op: Span) -> list[Span]:
        idx = self.spans.index(op)
        return [s for s in self.spans if s.parent == idx]

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
