"""Spans around the benchmark's calls into the engine.

Untraced, a span only takes the wall time of the call (``perf_counter``),
which is what the end-to-end metrics are computed from. Traced, each span
also runs its call in its own Spark job group and, after the call returns,
reads the group's jobs and stages back from the status store: job
intervals, stage/task counts, executor run and CPU time, input, shuffle,
spill, GC and failed tasks. Spans stay in memory and are written as JSONL
when the run ends.

``driver_gap_ms`` is the span's wall time minus the union of its jobs'
[submission, completion] intervals, clipped to the span; ``job_ms`` is
that union, so ``job_ms + driver_gap_ms == wall_ms`` for every span.
"""

from __future__ import annotations

import contextlib
import json
import time

SPARK_FIELDS = ("jobs", "stages", "tasks", "job_ms", "driver_gap_ms",
                "executor_run_ms", "executor_cpu_ms", "input_bytes", "gc_ms",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                "failed_tasks")


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    def __init__(self, spark, traced: bool) -> None:
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self.phase = "setup"
        self._seq = 0

    @contextlib.contextmanager
    def span(self, name: str, group: bool = True, **attrs):
        """Time one call. Yields the span record; callers may add counts.
        ``group=False`` marks a span that encloses other spans or runs no
        Spark job: it gets no job group of its own (Spark has one group per
        thread)."""
        rec = {"name": name, "phase": self.phase, **attrs}
        sc = self.spark.sparkContext
        if self.traced and group:
            self._seq += 1
            group = f"perfbench-{self._seq}"
            sc.setJobGroup(group, name, interruptOnCancel=False)
        else:
            group = None
        t0_epoch = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_ms"] = (time.perf_counter() - t0) * 1000.0
            rec["t0_ms"] = t0_epoch
            if group is not None:
                t1 = time.perf_counter()
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.update(self._read_group(group, t0_epoch,
                                            t0_epoch + rec["wall_ms"]))
                rec["readback_ms"] = (time.perf_counter() - t1) * 1000.0
            self.spans.append(rec)

    def _read_group(self, group: str, lo: float, hi: float) -> dict:
        jsc = self.spark.sparkContext._jsc.sc()
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = dict.fromkeys(SPARK_FIELDS, 0)
        intervals = []
        for job_id in self.spark.sparkContext.statusTracker().getJobIdsForGroup(group):
            jd = store.job(job_id)
            out["jobs"] += 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = comp.get().getTime() if comp.isDefined() else hi
                intervals.append((float(sub.get().getTime()), float(end)))
            for sid in jd.stageIds().mkString(",").split(","):
                if not sid:
                    continue
                try:
                    sd = store.lastStageAttempt(int(sid))
                except Exception:  # stage never attempted (no status entry)
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["input_bytes"] += sd.inputBytes()
                out["gc_ms"] += sd.jvmGcTime()
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["job_ms"] = _union_ms(intervals, lo, hi)
        out["driver_gap_ms"] = (hi - lo) - out["job_ms"]
        return out

    def measured(self, name: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["phase"] == "measure"
                and (name is None or s["name"] == name)]

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
