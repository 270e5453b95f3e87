"""Spans around the calls the benchmark makes into each layer, plus the
Spark status-store statistics of the jobs each top-level operation ran.

Nothing inside the package is edited: :meth:`Tracer.patch` swaps a
module attribute or method for a wrapper that records a span and puts
the original back in :meth:`Tracer.restore`. Spans are kept in memory
and summarised when the run ends.

Each top-level timed operation runs under its own Spark job group
(``SparkContext.setJobGroup``); after it returns the tracer drains the
listener bus and reads, for every stage of the group's jobs, the stage
record from the driver's status store: task count, executor run and CPU
time, GC time, shuffle bytes, spill bytes and the stage's active
interval. The operation's driver gap is its wall time minus the union
of those intervals.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "driver_gap_ms",
)


@dataclass
class Span:
    name: str
    parent: str | None
    phase: str  # setup | warmup | timed
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return float(total)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op_stats: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._group = 0
        self.phase = "setup"

    # -- spans ----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        sp = Span(name, self._stack[-1].name if self._stack else None, self.phase, time.perf_counter())
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(sp)

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records span ``name``."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, owner.__dict__.get(attr, original)))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- Spark statistics per operation ---------------------------------

    @contextmanager
    def spark_op(self, spark, name: str):
        """Run one top-level operation under its own job group and record
        its stage statistics (time spent reading them is tracer overhead)."""
        sc = spark.sparkContext
        self._group += 1
        group = f"perfbench-{self._group}"
        t = time.perf_counter()
        sc.setJobGroup(group, name, False)
        self.overhead_s += time.perf_counter() - t
        with self.span(name) as sp:
            try:
                yield sp
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        t = time.perf_counter()
        stats = self._stage_stats(sc, group, sp)
        self.op_stats.append(stats)
        self.overhead_s += time.perf_counter() - t

    @staticmethod
    def _stage_stats(sc, group: str, sp: Span) -> dict:
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        job_ids = tracker.getJobIdsForGroup(group)
        out["jobs"] = float(len(job_ids))
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        intervals = []
        for sid in stage_ids:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        out["driver_gap_ms"] = max(0.0, sp.ms - _union_ms(intervals))
        return out

    # -- summaries ------------------------------------------------------

    def durations_ms(self, name: str, phase: str = "timed") -> list[float]:
        return [s.ms for s in self.spans if s.name == name and s.phase == phase]
