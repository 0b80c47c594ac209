"""Spans around calls into the engine, with Spark metrics per span.

A traced run gives every op a root span; child spans (query build, Catalyst
planning, collect, store and operator calls) carry the op's id and their
parent's id. Each span runs under its own Spark job group, so once the span
ends its jobs are looked up in the status tracker and their per-stage metrics
(tasks, executor run and CPU time, scheduler delay, shuffle bytes, spill, GC)
are read from the application status store, which Spark keeps with the UI
disabled. The store is filled asynchronously from the listener bus, so the
bus is drained before every read; the wait counts as tracing overhead.
Spans stay in memory until the run writes them out.

An untraced run uses the same calls with ``enabled=False``: spans are not
recorded, no job group is set and the status store is never read.
"""

from __future__ import annotations

import contextlib
import time

_STAGE_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s", "sched_delay_s",
                 "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                 "gc_s")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self._sc = spark.sparkContext
        if enabled:
            self._store = self._sc._jsc.sc().statusStore()
            self._bus = self._sc._jsc.sc().listenerBus()
            self._no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
            self._no_status = self._sc._jvm.java.util.ArrayList()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record ``name`` around the body; yields the span dict (or None
        when disabled) so the body can attach attributes."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "op": sid if parent is None else self.spans[parent]["op"],
               "parent": parent, "name": name, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(f"perfbench-{sid}", name)
        self.overhead_s += time.perf_counter() - t0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t1 = time.perf_counter()
            self._stack.pop()
            # the last job/stage/task end events of the span may still be
            # queued for the status store
            self._bus.waitUntilEmpty(60_000)
            rec["spark"] = self._spark_metrics(f"perfbench-{sid}")
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                self._sc.setJobGroup(f"perfbench-{parent}", self.spans[parent]["name"])
            self.overhead_s += time.perf_counter() - t1

    def _spark_metrics(self, group: str) -> dict:
        """Metrics of the jobs run under ``group``: job and stage counts,
        summed per-stage task metrics, the wall time the jobs were running
        and the worst stage's max/median task duration. ``jobs_open``
        counts jobs the store still has without a completion time."""
        out = dict.fromkeys(_STAGE_FIELDS, 0.0)
        out.update(jobs=0, jobs_open=0, stages=0, task_skew=0.0)
        walls = []
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                walls.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            else:
                out["jobs_open"] += 1
            sids = job.stageIds()
            for i in range(sids.size()):
                self._add_stage(sids.apply(i), out)
        # jobs of one action can overlap (broadcast and subquery jobs), so
        # their busy time is the union of their intervals
        out["job_wall_s"] = covered(walls, float("-inf"), float("inf"))
        return out

    def _add_stage(self, sid: int, out: dict) -> None:
        attempts = self._store.stageData(sid, False, self._no_status, False,
                                         self._no_quantiles)
        for k in range(attempts.size()):
            s = attempts.apply(k)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["gc_s"] += s.jvmGcTime() / 1e3
            tasks = self._store.taskList(sid, s.attemptId(), 1 << 20)
            durs = []
            for t in range(tasks.size()):
                td = tasks.apply(t)
                out["sched_delay_s"] += td.schedulerDelay() / 1e3
                if td.duration().isDefined():
                    durs.append(td.duration().get())
            if durs:
                durs.sort()
                med = durs[(len(durs) - 1) // 2]
                out["task_skew"] = max(out["task_skew"], durs[-1] / max(med, 1))


def pinned_mb(spark) -> float:
    """Memory held by cached and checkpointed RDD blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 1e6


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
