"""Spans recorded from the benchmark's side of each layer boundary.

A span has a name, start, end, parent and trace id. Each span runs its
Spark work under its own job group, and when it ends the span reads its
job, stage and task counts from ``statusTracker``. Spans stay in memory
until :meth:`Tracer.write` is called at exit. A layer's self time is its
span's duration minus the part its child spans cover.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    trace_id: str
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, trace_id: str):
        """``sc`` is the SparkContext whose jobs spans count; it may be set
        later, for spans that run before the session exists."""
        self.sc = sc
        self.trace_id = trace_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, next(self._ids), parent and parent.span_id, self.trace_id,
                 time.perf_counter(), attrs=dict(attrs))
        group = f"{self.trace_id}-{s.span_id}"
        sc = self.sc  # None until the session exists
        if sc is not None:
            sc.setJobGroup(group, name)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(f"{self.trace_id}-{parent.span_id}", parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                self._count_jobs(s, group)
            self.spans.append(s)

    def _count_jobs(self, s: Span, group: str) -> None:
        # the status store is fed by the asynchronous listener bus; drain it
        # so the span's last job is counted
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(job_id)
            if job is None or job.status != "SUCCEEDED":
                continue  # e.g. a stage adaptive execution cancelled when it re-planned
            s.jobs += 1
            for stage_id in job.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                s.stages += 1
                s.tasks += st.numCompletedTasks + st.numFailedTasks
                s.failed_tasks += st.numFailedTasks

    # -- reading -----------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the union of the child spans' intervals."""
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s.span_id, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        return s.duration - covered

    def total(self, name: str, attr: str = "duration") -> float:
        """Sum of ``attr`` over spans named ``name``; job counts include
        the spans' descendants."""
        if attr == "duration":
            return sum(s.duration for s in self.spans if s.name == name)
        kids = self.children()

        def inclusive(s: Span) -> int:
            return getattr(s, attr) + sum(inclusive(c) for c in kids.get(s.span_id, ()))

        return sum(inclusive(s) for s in self.spans if s.name == name)

    def sum(self, attr: str) -> int:
        """Sum of a job count over every span: all Spark work traced."""
        return sum(getattr(s, attr) for s in self.spans)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def write(self, path: str) -> None:
        kids = self.children()
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = asdict(s)
                rec["self_s"] = self.self_time(s, kids)
                f.write(json.dumps(rec) + "\n")


class NullTracer:
    """Stands in for :class:`Tracer` when nothing is traced."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None
