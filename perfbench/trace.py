"""Spans around the benchmark's own calls into the package, with Spark
scheduler counters read from the status store.

Nothing here reaches inside the package: a span opens and closes around a
call the benchmark makes (or around a method of an object the benchmark
hands to the package). At each boundary the tracer reads the DAG scheduler's
next job and stage ids; at the end of a span it reads every stage the span
created from the application status store, which works with the UI off and
starts no Spark job. Stage records are immutable once their job has
returned, so each is read once and cached.

Spans stay in memory; ``Tracer.spans`` is written out when the run ends.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "tasks", "input_bytes", "executor_run_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    overhead: float = 0.0  # tracer bookkeeping at this span's boundaries
    counters: dict[str, int] = field(default_factory=dict)
    result: Any = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans with job/stage/task deltas for one Spark application."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._stages: dict[int, dict[str, int]] = {}
        self._stack: list[int] = []
        self.spans: list[Span] = []
        self.self_s = 0.0  # time the tracer itself spends at span boundaries

    def _ids(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    def _stage(self, sid: int) -> dict[str, int]:
        if sid not in self._stages:
            try:
                d = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted or never submitted: counts as skipped
                d = None
            if d is None or d.status().toString() == "SKIPPED":
                self._stages[sid] = dict.fromkeys(STAGE_FIELDS, 0)
            else:
                self._stages[sid] = {
                    "tasks": d.numCompleteTasks(),
                    "input_bytes": d.inputBytes(),
                    "executor_run_ms": d.executorRunTime(),
                    "shuffle_read_bytes": d.shuffleReadBytes(),
                    "shuffle_write_bytes": d.shuffleWriteBytes(),
                    "spill_bytes": d.memoryBytesSpilled() + d.diskBytesSpilled(),
                }
        return self._stages[sid]

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        job0, stage0 = self._ids()
        sp = Span(name, 0.0, self._stack[-1] if self._stack else None)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp.start = time.perf_counter()
        sp.overhead = sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            job1, stage1 = self._ids()
            sp.jobs, sp.stages = job1 - job0, stage1 - stage0
            if stage1 > stage0:
                self._bus.waitUntilEmpty()  # the listener is asynchronous
            totals = dict.fromkeys(STAGE_FIELDS, 0)
            for sid in range(stage0, stage1):
                for k, v in self._stage(sid).items():
                    totals[k] += v
            sp.counters = totals
            self._stack.pop()
            sp.overhead += time.perf_counter() - sp.end
            self.self_s += sp.overhead

    def wrap(self, name: str, fn: Callable) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                sp.result = fn(*args, **kwargs)
                return sp.result

        return traced

    def self_time(self, idx: int) -> float:
        """A span's duration minus the time its direct children cover,
        including the tracer's own bookkeeping around them."""
        sp = self.spans[idx]
        kids = sum(s.duration + s.overhead for s in self.spans if s.parent == idx)
        return sp.duration - kids

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "jobs": s.jobs, "stages": s.stages, **s.counters}
            for s in self.spans
        ]


class Hooked:
    """Stand-in for an object the benchmark hands to the package: the named
    methods are replaced by wrapped versions, everything else passes through."""

    def __init__(self, target, wrappers: dict[str, Callable[[Callable], Callable]]):
        self._target = target
        self._wrapped = {m: w(getattr(target, m)) for m, w in wrappers.items()}

    def __getattr__(self, attr):
        if attr in self._wrapped:
            return self._wrapped[attr]
        return getattr(self._target, attr)
