"""In-memory tracing for the benchmark, recorded from outside the package.

A span is (name, start, end, parent, op): ``name`` is the layer (the
package module whose public function was called, e.g. ``operators.tax``),
``op`` is the operation the call served (one close pass, one quote, ...).
Spans live in a list and are written out once, when the run ends.

Spark work is attributed with job groups: every traced operation runs under
its own group, and the job / stage / task counts are read back through
``SparkContext.statusTracker`` after the operation ends.

With tracing off every method is a cheap pass-through, so untraced runs pay
nothing measurable.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    def add(self, other: "JobCounts") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.failed_tasks += other.failed_tasks


@dataclass
class Tracer:
    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _op: str = ""
    _groups: int = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        """Call ``fn`` (a public function of layer ``name``) inside a span."""
        with self.span(name):
            return fn(*args, **kwargs)

    @contextlib.contextmanager
    def op(self, spark, op_id: str, counts: JobCounts | None = None):
        """Run one operation under its own Spark job group; add its job,
        stage and task counts to ``counts``."""
        if not self.enabled:
            yield
            return
        self._groups += 1
        group = f"bench-{self._groups}"
        sc = spark.sparkContext
        sc.setJobGroup(group, op_id)
        prev, self._op = self._op, op_id
        try:
            with self.span("op"):
                yield
        finally:
            self._op = prev
            sc.setLocalProperty("spark.jobGroup.id", None)
            if counts is not None:
                counts.add(group_counts(sc, group))

    def self_times(self) -> dict[str, float]:
        """Per-name self time: span duration minus the part its direct
        children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[i]
        return out

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def write(self, path: Path, header: dict) -> None:
        """One JSON line of ``header`` plus per-name self times, then one
        line per span."""
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            f.write(json.dumps({**header, "span_self_s": self.self_times()}, default=str) + "\n")
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def group_counts(sc, group: str) -> JobCounts:
    """Jobs, stages, tasks and failed tasks of one job group so far."""
    tracker = sc.statusTracker()
    c = JobCounts()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        c.jobs += 1
        for stage_id in info.stageIds:
            st = tracker.getStageInfo(stage_id)
            # skipped stages (shuffle output reused) ran no tasks
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue
            c.stages += 1
            c.tasks += st.numCompletedTasks
            c.failed_tasks += st.numFailedTasks
    return c


def force(df) -> None:
    """Execute ``df`` fully without collecting it (the ``noop`` sink)."""
    df.write.format("noop").mode("overwrite").save()
