"""Spans around calls into the engine, with Spark's own counters.

Each span records its layer, operation, start, end, parent span and
run id.  When a span closes, the Spark jobs started since the previous
read are looked up in the driver's status store (which exists even
with ``spark.ui.enabled=false``) and their stages' counters are
attached to the span.  Jobs are attributed by job id, not by job
group: engine code that submits jobs from helper threads (whose jobs
carry no group) is still counted.  The span's own job group is set as
well, for anyone reading Spark's logs.

A disabled tracer records nothing and makes no JVM calls.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "run_ms",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    span_id: int
    parent: int | None
    run_id: str
    layer: str
    op: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while enabled.  ``pause``/``resume`` switch a
    tracer built with ``enabled=True`` off and on between passes; a
    tracer built disabled stays off."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self._can_trace = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.evicted_jobs = 0
        self._sc = spark.sparkContext
        self._stack: list[Span] = []
        self._counted_stages: set[int] = set()
        if enabled:
            jsc = self._sc._jsc.sc()
            self._bus = jsc.listenerBus()
            self._dag = jsc.dagScheduler()
            self._store = jsc.statusStore()
            self._next_job = self._dag.numTotalJobs()

    def pause(self) -> None:
        self.enabled = False

    def resume(self) -> None:
        if self._can_trace:
            self.enabled = True
            self._bus.waitUntilEmpty()
            self._next_job = self._dag.numTotalJobs()  # untraced jobs stay out

    def add(self, layer: str, op: str, duration: float) -> None:
        """A root span for work timed before the tracer existed."""
        now = time.perf_counter()
        self.spans.append(
            Span(len(self.spans), None, self.run_id, layer, op, now - duration, now,
                 dict.fromkeys(COUNTERS, 0))
        )

    @contextmanager
    def span(self, layer: str, op: str):
        if not self.enabled:
            yield None
            return
        self._take_counters()  # jobs before this span belong to the parent
        parent = self._stack[-1] if self._stack else None
        s = Span(
            span_id=len(self.spans),
            parent=parent.span_id if parent else None,
            run_id=self.run_id,
            layer=layer,
            op=op,
            start=0.0,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(f"{self.run_id}/{s.span_id}", f"{layer}:{op}")
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._take_counters()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"{self.run_id}/{parent.span_id}", parent.layer)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def _take_counters(self) -> None:
        """Add every job submitted since the last read to the innermost
        open span (the jobs ran while it was innermost)."""
        self._bus.waitUntilEmpty()
        n = self._dag.numTotalJobs()
        if not self._stack:
            self._next_job = n
            return
        c = self._stack[-1].counters
        for name in COUNTERS:
            c.setdefault(name, 0)
        for job_id in range(self._next_job, n):
            try:
                job = self._store.job(job_id)
            except Py4JJavaError:  # dropped from the store (retainedJobs)
                self.evicted_jobs += 1
                continue
            c["jobs"] += 1
            for sid in job.stageIds().mkString(",").split(","):
                if not sid or int(sid) in self._counted_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(int(sid))
                except Py4JJavaError:
                    self.evicted_jobs += 1
                    continue
                if st.status().toString() in ("SKIPPED", "PENDING"):
                    continue  # a reused shuffle: its work was counted where it ran
                self._counted_stages.add(int(sid))
                c["stages"] += 1
                c["tasks"] += st.numTasks()
                c["failed_tasks"] += st.numFailedTasks()
                c["run_ms"] += st.executorRunTime()
                c["input_bytes"] += st.inputBytes()
                c["shuffle_read_bytes"] += st.shuffleReadBytes()
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._next_job = n

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover."""
        own = {s.span_id: s.duration for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.duration
        return own

    def to_records(self) -> list[dict]:
        own = self.self_times()
        return [
            {
                "span_id": s.span_id,
                "parent": s.parent,
                "run_id": s.run_id,
                "layer": s.layer,
                "op": s.op,
                "start": s.start,
                "end": s.end,
                "self_s": own[s.span_id],
                **s.counters,
            }
            for s in self.spans
        ]
