"""Span recording and Spark status-store accounting for the traced run.

Everything here observes the engine from outside: a span is opened around
one call into a layer's public function, the call's Spark jobs are tagged
with a job group named after the span, and once the call returns the jobs
of that group are read back from Spark's status store (populated with the
web UI disabled). Spans are kept in memory and written as JSON lines when
the run ends.

With tracing off, ``Tracer.span`` only times the call: no job group is
set and the status store is never read, so the untraced run measures the
engine alone and traced-minus-untraced is the tracing overhead.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    span_id: str
    op_id: str            # span id of the outermost span: one per request
    parent: str | None
    start: float
    end: float = 0.0
    traced: bool = False
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    in_job_ms: float = 0.0
    account_ms: float = 0.0   # status-store read after the span closed
    attrs: dict = field(default_factory=dict)

    @property
    def wall_ms(self) -> float:
        return (self.end - self.start) * 1000.0


def covered_ms(intervals: list[tuple[int, int]]) -> float:
    """Milliseconds covered by the union of [start, end] intervals: jobs
    of one call can overlap (AQE submits broadcast and shuffle stages
    concurrently), so their durations do not simply add."""
    total, cur_s, cur_e = 0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


class Tracer:
    """Times calls; when ``enabled`` also tags and accounts their Spark jobs.

    ``paused()`` turns tagging off for a stretch of a traced run, so the
    same call mix can be timed both ways inside one process."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0
        self._paused = False

    @contextmanager
    def paused(self):
        prev, self._paused = self._paused, True
        try:
            yield
        finally:
            self._paused = prev

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the enclosed call. A traced span tags the call's Spark jobs
        with its own job group (restoring the enclosing group afterwards),
        so nested spans account only for their own jobs."""
        self._seq += 1
        parent = self._stack[-1] if self._stack else None
        span_id = f"{name}#{self._seq}"
        traced = self.enabled and not self._paused
        s = Span(name=name, span_id=span_id,
                 op_id=parent.op_id if parent else span_id,
                 parent=parent.span_id if parent else None,
                 start=0.0, traced=traced, attrs=dict(attrs))
        sc = self.spark.sparkContext
        if traced:
            prev_group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(span_id, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", prev_group)
                self._account(s)
                s.account_ms = (time.perf_counter() - s.end) * 1000.0
            self.spans.append(s)

    def _account(self, s: Span) -> None:
        """Read the finished jobs of ``s``'s group from the status store.

        Listener events are delivered asynchronously, so the bus is drained
        before reading; this happens after ``s.end`` and is not part of the
        span's wall time."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        stages: set[int] = set()
        intervals: list[tuple[int, int]] = []
        for job_id in sc.statusTracker().getJobIdsForGroup(s.span_id):
            jd = store.job(job_id)
            s.jobs += 1
            s.tasks += jd.numCompletedTasks() + jd.numFailedTasks()
            s.failed_tasks += jd.numFailedTasks()
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            it = jd.stageIds().iterator()
            while it.hasNext():
                stages.add(int(it.next()))
        s.in_job_ms = covered_ms(intervals)
        for stage_id in stages:
            sd = store.lastStageAttempt(stage_id)
            if sd.status().toString() == "SKIPPED":
                continue
            s.executor_run_ms += sd.executorRunTime()
            s.gc_ms += sd.jvmGcTime()
            s.shuffle_write_bytes += sd.shuffleWriteBytes()

    def named(self, name: str, traced: bool | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name
                and (traced is None or s.traced == traced)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "wall_ms": s.wall_ms}) + "\n")
