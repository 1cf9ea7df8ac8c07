"""Spans around the benchmark's calls into each layer, plus Spark task
metrics per span read from the application status store.

A span records its name, start, end, parent span and the run id. Spans
live in memory and are written out once, when the run ends.

Scoping (the rule that bit earlier probes): the listener bus is drained
before the span starts and again after it ends, the highest job id in the
status store is taken as the span's watermark at start, and only jobs above
that watermark count toward the span. A span therefore never picks up a job
that belongs to the span before it, even when that job's end event was
still queued when the earlier span returned.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterator, List, Optional, Tuple

SPARK_FIELDS = ("jobs", "tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_write_bytes", "spill_bytes", "input_bytes")


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    run_id: str
    start: float = 0.0
    end: float = 0.0
    spark: Dict[str, float] = field(default_factory=dict)
    job_ids: List[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


def covered(intervals: List[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans: List[Span]) -> float:
    """Wall time of ``span`` minus the part its child spans cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.wall - covered(kids, span.start, span.end)


class NullTracer:
    """The untraced run: spans cost one generator frame and record nothing."""

    @contextmanager
    def span(self, name: str, spark: bool = True) -> Iterator[None]:
        yield None


class StatusStore:
    """Reads job and stage metrics from the driver's ``AppStatusStore``."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self.cores = spark.sparkContext.defaultParallelism

    def drain(self) -> None:
        self._bus.waitUntilEmpty(60_000)

    def max_job_id(self) -> int:
        jobs = self._store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def jobs_since(self, watermark: int) -> List[int]:
        jobs = self._store.jobsList(None)
        out = []
        it = jobs.iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() <= watermark:
                break
            out.append(j)
        return out

    def metrics_since(self, watermark: int) -> Tuple[Dict[str, float], List[int]]:
        """Summed stage metrics of the jobs above ``watermark``, and their ids."""
        jobs = self.jobs_since(watermark)
        stage_ids = set()
        for j in jobs:
            it = j.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        m = {k: 0.0 for k in SPARK_FIELDS}
        m["jobs"] = float(len(jobs))
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage never submitted
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            m["tasks"] += st.numCompleteTasks()
            m["executor_run_s"] += st.executorRunTime() / 1e3
            m["executor_cpu_s"] += st.executorCpuTime() / 1e9
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["input_bytes"] += st.inputBytes()
        return m, sorted(j.jobId() for j in jobs)


class Tracer:
    """The traced run. ``span(name, spark=True)`` reads Spark metrics for
    the span; nested spans (``spark=False``) only record time."""

    def __init__(self, store: Optional[StatusStore], run_id: str):
        self.store = store
        self.run_id = run_id
        self.spans: List[Span] = []
        self.own_s = 0.0  # time spent draining and reading the status store
        self._stack: List[Span] = []

    @contextmanager
    def span(self, name: str, spark: bool = True) -> Iterator[Span]:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(id=len(self.spans), name=name, parent=parent, run_id=self.run_id)
        self.spans.append(sp)
        watermark = None
        if spark and self.store is not None:
            t = time.perf_counter()
            self.store.drain()
            watermark = self.store.max_job_id()
            self.own_s += time.perf_counter() - t
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if watermark is not None:
                self.store.drain()
                sp.spark, sp.job_ids = self.store.metrics_since(watermark)
                self.own_s += time.perf_counter() - sp.end

    def top_level(self) -> List[Span]:
        return [s for s in self.spans if s.parent is None]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dict(asdict(s), self_s=self_time(s, self.spans))) + "\n")
