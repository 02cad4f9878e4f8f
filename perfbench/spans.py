"""Spans around the benchmark's calls into the library, with the Spark stage
metrics of the jobs each span ran.

A span sets its own Spark job group for its extent. On exit it drains the
listener bus, lists the group's jobs through ``statusTracker()``, and sums
the stage metrics those jobs ran from the status store
(``statusStore().lastStageAttempt``), which Spark keeps with the UI disabled.
A stage is counted once, by the first span whose jobs list it, and only if
it ran (a stage skipped because its shuffle output existed ran nothing).
Counters are inclusive: a span's totals contain its nested spans'.

With tracing off, ``span`` does nothing, so untraced runs pay nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

COUNTERS = (
    "wall_s",
    "jobs",
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "input_rows",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "exec_mem_bytes",
)
TIME_COUNTERS = ("wall_s", "executor_run_s", "executor_cpu_s", "gc_s")


def _stage_counters(sd) -> dict:
    return {
        "tasks": sd.numCompleteTasks(),
        "failed_tasks": sd.numFailedTasks(),
        "executor_run_s": sd.executorRunTime() / 1e3,
        "executor_cpu_s": sd.executorCpuTime() / 1e9,
        "gc_s": sd.jvmGcTime() / 1e3,
        "input_rows": sd.inputRecords(),
        "input_bytes": sd.inputBytes(),
        "output_bytes": sd.outputBytes(),
        "shuffle_read_bytes": sd.shuffleReadBytes(),
        "shuffle_write_bytes": sd.shuffleWriteBytes(),
        "spill_bytes": sd.diskBytesSpilled(),
        # each task's peak execution memory (sorts, aggregations, joins,
        # shuffle buffers), summed over the stage's tasks
        "exec_mem_bytes": sd.peakExecutionMemory(),
    }


class Tracer:
    """Collects one dict of span totals per job: ``job_spans[name][counter]``."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._seen_stages: set[int] = set()
        self._stack: list[dict] = []
        self._seq = 0
        self.job_spans: dict[str, dict] = {}

    def new_job(self) -> None:
        self.job_spans = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        parent = {
            k: self.sc.getLocalProperty(k) for k in ("spark.jobGroup.id", "spark.job.description")
        }
        totals = dict.fromkeys(COUNTERS, 0)
        self._stack.append(totals)
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            totals["wall_s"] += time.perf_counter() - t0
            for k, v in parent.items():
                self.sc.setLocalProperty(k, v)
            for k, v in self._group_counters(group).items():
                totals[k] += v
            self._stack.pop()
            if self._stack:
                # the enclosing span's wall time already covers this one
                for k, v in totals.items():
                    if k != "wall_s":
                        self._stack[-1][k] += v
            agg = self.job_spans.setdefault(name, dict.fromkeys(COUNTERS, 0))
            agg["calls"] = agg.get("calls", 0) + 1
            for k, v in totals.items():
                agg[k] += v

    def ungrouped_counters(self) -> dict:
        """Counters of the stages that jobs outside any span ran since the
        last call: those of an untraced job."""
        return self._group_counters(None)

    def _group_counters(self, group: str | None) -> dict:
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        out = dict.fromkeys(COUNTERS[1:], 0)
        job_ids = tracker.getJobIdsForGroup(group)
        out["jobs"] = len(job_ids)
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in sorted(stage_ids - self._seen_stages):
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:
                continue  # not in the store: never submitted, nothing ran
            if sd.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            self._seen_stages.add(s)
            for k, v in _stage_counters(sd).items():
                out[k] += v
        return out
