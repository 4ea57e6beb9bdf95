"""Spans around the benchmark's calls into the library, with the Spark
work each call caused.

A span sets a fresh Spark job group, times the call (wall and this
process's CPU), and on exit reads the group's jobs and their stages from
the driver's status store, which keeps the data with the UI disabled but
evicts it past ``spark.ui.retainedJobs``/``retainedStages`` -- hence the
read right after each call, not at the end of the run.
"""
from __future__ import annotations

import time
from contextlib import contextmanager

MB = 1e6


class Tracer:
    """Collects one record per span; ``spans`` is read when the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.spans: list[dict] = []
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, name: str, **attrs):
        group = f"rcabench-{len(self.spans)}-{name}"
        self.sc.setJobGroup(group, name)
        rec = {"name": name, **attrs}
        cpu0, t0 = time.process_time(), time.perf_counter()
        try:
            yield
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["py_cpu_s"] = time.process_time() - cpu0
            rec.update(self._spark_work(group))
            rec["driver_s"] = rec["wall_s"] - rec["spark_busy_s"]
            self.spans.append(rec)

    def _spark_work(self, group: str) -> dict:
        # the status store is fed by the listener bus: drain it so the
        # group's jobs and their final stage metrics are all recorded
        self.jsc.listenerBus().waitUntilEmpty()
        intervals = []
        out = {"jobs": 0, "stages": 0, "tasks": 0, "exec_cpu_s": 0.0,
               "input_mb": 0.0, "shuffle_write_mb": 0.0}
        for job_id in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = self.store.job(job_id)
            out["jobs"] += 1
            start, end = job.submissionTime(), job.completionTime()
            if start.isDefined() and end.isDefined():
                intervals.append((start.get().getTime(), end.get().getTime()))
            stage_ids = job.stageIds().iterator()
            while stage_ids.hasNext():
                stage_id = stage_ids.next()
                # a shuffle stage reused by a later job shows up in that
                # job's stage list too: count each stage once
                if stage_id in self._seen_stages:
                    continue
                stage = self.store.lastStageAttempt(stage_id)
                if stage.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(stage_id)
                out["stages"] += 1
                out["tasks"] += stage.numCompleteTasks()
                out["exec_cpu_s"] += stage.executorCpuTime() / 1e9
                out["input_mb"] += stage.inputBytes() / MB
                out["shuffle_write_mb"] += stage.shuffleWriteBytes() / MB
        out["spark_busy_s"] = _union_ms(intervals) / 1e3
        return out


def _union_ms(intervals) -> int:
    """Length of the union of [start, end] intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
