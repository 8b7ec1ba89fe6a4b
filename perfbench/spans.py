"""Spans around public calls, split into layers from Spark's status store.

A traced call runs under its own Spark job group.  After the call returns,
the benchmark drains the listener bus and reads the group's jobs and their
stages from ``sc._jsc.sc().statusStore()``; this works with
``spark.ui.enabled=false``.  Nothing is read inside the program: the span
is the call boundary as a user sees it.

Per span:

- ``wall_s``: the call's wall time (monotonic clock);
- ``cpu_s``: CPU seconds the whole process tree (this driver, the JVM, the
  Python workers) spent during the call, traced or not;
- ``jobs``: Spark jobs the call submitted;
- ``executor_run_s`` / ``executor_cpu_s``: summed over the distinct stages
  of those jobs (``executorRunTime`` ms, ``executorCpuTime`` ns);
- ``shuffle_write_bytes`` and ``failed_tasks``: summed the same way;
- ``driver_gap_s``: wall time minus the union of the jobs' [submission,
  completion] intervals -- driver Python, Catalyst and scheduling.
"""

from __future__ import annotations

import itertools
import time

from procs import tree_cpu_s

SPAN_FIELDS = (
    "wall_s", "cpu_s", "jobs", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "failed_tasks", "driver_gap_s",
)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, lo, hi = 0.0, None, None
    for a, b in sorted(intervals):
        if hi is None or a > hi:
            if hi is not None:
                total += hi - lo
            lo, hi = a, b
        else:
            hi = max(hi, b)
    return total + (hi - lo if hi is not None else 0.0)


class Tracer:
    """Times calls; with ``enabled`` it also splits them into Spark work."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._ids = itertools.count()
        #: wall seconds spent on span bookkeeping, outside the calls
        self.overhead_s = 0.0

    def call(self, layer: str, fn):
        """Run ``fn()``; returns (result, stats).  ``stats`` holds every
        SPAN_FIELDS entry when tracing, else only ``wall_s`` and ``cpu_s``."""
        if not self.enabled:
            c0, t0 = tree_cpu_s(), time.monotonic()
            result = fn()
            wall = time.monotonic() - t0
            return result, {"wall_s": wall, "cpu_s": tree_cpu_s() - c0}
        b0 = time.monotonic()
        group = f"perfbench-{layer}-{next(self._ids)}"
        self.sc.setJobGroup(group, layer)
        start_ms = time.time() * 1000.0
        c0, t0 = tree_cpu_s(), time.monotonic()
        try:
            result = fn()
        finally:
            wall = time.monotonic() - t0
            cpu = tree_cpu_s() - c0
            end_ms = time.time() * 1000.0
            for key in ("spark.jobGroup.id", "spark.job.description"):
                self.sc.setLocalProperty(key, None)
        stats = self._read_group(group, wall, start_ms, end_ms)
        stats["cpu_s"] = cpu
        self.overhead_s += time.monotonic() - b0 - wall
        return result, stats

    def _read_group(self, group: str, wall: float, start_ms: float, end_ms: float) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        run_ms = cpu_ns = shuffle_b = failed = 0
        intervals = []
        seen_stages = set()
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                lo = max(float(sub.get().getTime()), start_ms)
                hi = min(float(done.get().getTime()), end_ms)
                if hi > lo:
                    intervals.append((lo, hi))
            failed += int(job.numFailedTasks())
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                sid = int(stage_ids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                stage = store.lastStageAttempt(sid)
                run_ms += int(stage.executorRunTime())
                cpu_ns += int(stage.executorCpuTime())
                shuffle_b += int(stage.shuffleWriteBytes())
        return {
            "wall_s": wall,
            "jobs": len(job_ids),
            "executor_run_s": run_ms / 1e3,
            "executor_cpu_s": cpu_ns / 1e9,
            "shuffle_write_bytes": shuffle_b,
            "failed_tasks": failed,
            "driver_gap_s": max(0.0, wall - _union_ms(intervals) / 1e3),
        }
