"""Spans around calls into the engine's modules, with Spark job counts.

A span records its name, parent, start and end. While a span is open its
Spark jobs carry a job group of their own, so after the run the status
store (which works with the UI off) tells each span's jobs, completed
stages, tasks and shuffle bytes. A span's self time is its duration minus
the time its child spans cover. Spans marked ``probe`` are the tracer's
own measuring work (row counts, sizes): their time and jobs are left out
of every layer, including their parent's.

With tracing off, or inside ``suspended()``, ``span`` yields a throwaway
dict and records nothing; ``active`` tells instrumentation which case
holds.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    parent: "Span | None"
    group: str
    probe: bool
    t0: float
    t1: float = 0.0
    children: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.duration - sum(c.duration for c in self.children)


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    single_task_stages: int = 0

    def add(self, other: "JobStats") -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.shuffle_bytes += other.shuffle_bytes
        self.single_task_stages += other.single_task_stages


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.active = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._stats: dict[str, JobStats] = {}

    def _set_group(self, span: "Span | None") -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name)

    @contextmanager
    def suspended(self):
        """Run untraced: jobs stay in the enclosing span's job group."""
        was, self.active = self.active, False
        try:
            yield
        finally:
            self.active = was

    @contextmanager
    def span(self, name: str, probe: bool = False):
        if not self.active:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, f"musebench-{len(self.spans)}", probe, 0.0)
        self.spans.append(sp)
        if parent is not None:
            parent.children.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.t0 = time.perf_counter()
        try:
            yield sp.counts
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    # ------------------------------------------------------------ reading

    def job_stats(self, span: Span) -> JobStats:
        """Jobs launched while ``span`` itself (not a child) was open."""
        if span.group in self._stats:
            return self._stats[span.group]
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()  # noqa: SLF001
        st = JobStats()
        for job_id in tracker.getJobIdsForGroup(span.group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            st.jobs += 1
            for stage_id in info.stageIds:
                data = store.lastStageAttempt(stage_id)
                if data.status().toString() != "COMPLETE":
                    continue  # skipped stages reuse earlier shuffle output
                st.stages += 1
                st.tasks += data.numCompleteTasks()
                st.shuffle_bytes += data.shuffleWriteBytes()
                st.single_task_stages += data.numTasks() == 1
        self._stats[span.group] = st
        return st

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_s(self, name: str) -> float:
        return sum(s.self_s for s in self.named(name))

    def total_s(self, name: str) -> float:
        """Duration of every ``name`` span minus its probes' time."""
        return sum(
            s.duration - sum(c.duration for c in s.children if c.probe)
            for s in self.named(name)
        )

    def counts(self, name: str, key: str) -> float:
        return sum(s.counts.get(key, 0) for s in self.named(name))

    def stats(self, name: str) -> JobStats:
        """Jobs of every ``name`` span, without its children's."""
        total = JobStats()
        for s in self.named(name):
            total.add(self.job_stats(s))
        return total
