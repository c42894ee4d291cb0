"""Spans recorded from outside the program, and the counters read after
each one.

A span is (name, start, end, parent). Each layer span runs under its own
Spark job group; after it closes, the group's jobs are read back from
Spark's status store (jobs, tasks, executor CPU, shuffle and spill) and
the Python-worker CPU delta is read from /proc. That reading, and any other
tracer work done inside a span (``Tracer.bookkeeping``), is timed on its
own and charged to the span it happens in, apart from the layers' times.
A span's self time minus its measured bookkeeping is then close to 0
unless some call inside it ran outside every child span.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

import procstat

SPARK_KEYS = ("jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    counters: dict = field(default_factory=dict)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(kids.get(i, ())) for i, s in enumerate(spans)
    ]


class Tracer:
    """Records spans around calls into the program's layers."""

    def __init__(self, spark, python_worker_pids):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.worker_pids = python_worker_pids
        self.spans: list[Span] = []
        # span index (None: outside every span) → seconds of tracer work in it
        self.overhead: dict[int | None, float] = defaultdict(float)
        self._groups = itertools.count()

    @contextmanager
    def bookkeeping(self, parent: int | None):
        """Time a block of tracer work (counter reads, file snapshots) done
        inside span ``parent`` as that span's overhead."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.overhead[parent] += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, parent: int | None = None, counted: bool = True):
        """Time the block as one span and yield its index. A counted span
        (a layer) runs under its own job group and gets its Spark and
        Python-worker counters; an uncounted one (a batch) only its times.
        The tracer's work before the start and after the end is charged to
        ``parent`` as overhead."""
        t_in = time.perf_counter()
        index = len(self.spans)
        span = Span(name, 0.0, 0.0, parent)
        self.spans.append(span)
        if counted:
            group = f"bench-span-{next(self._groups)}"
            self.sc.setJobGroup(group, name)
            py0 = procstat.cpu_s(self.worker_pids())
        span.start = time.perf_counter()
        self.overhead[parent] += span.start - t_in
        yield index
        span.end = time.perf_counter()
        if counted:
            span.counters = self.spark_counters(group)
            span.counters["py_cpu_s"] = procstat.cpu_s(self.worker_pids()) - py0
            self.sc.setJobGroup("bench", "between spans")
        self.overhead[parent] += time.perf_counter() - span.end

    def spark_counters(self, group: str) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        store = self.jsc.statusStore()
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            stages = store.job(jid).stageIds()
            for i in range(stages.length()):
                sd = store.lastStageAttempt(stages.apply(i))
                if sd.status().toString() == "SKIPPED":
                    continue
                out["tasks"] += sd.numTasks()
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_mb"] += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / 2**20
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        return out
