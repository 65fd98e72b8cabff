"""Per-layer spans, measured from outside the library.

Each span runs its calls under its own Spark job group.  When the span
ends, the tracer waits for the listener bus to drain, lists the group's
jobs from ``statusTracker()`` and reads each stage's metrics from the
application status store
(``sc._jsc.sc().statusStore().lastStageAttempt(id)``, a private JVM API
that works with the UI disabled).  If that API is unavailable the span
keeps its wall time and its job and stage counts only.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

FIELDS = (
    "wall_s", "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_mb", "shuffle_write_mb", "input_mb", "peak_exec_mem_mb",
)
MB = 1024.0 * 1024.0


def _empty(wall_s: float) -> dict:
    row = dict.fromkeys(FIELDS, 0.0)
    row["wall_s"] = wall_s
    return row


class Tracer:
    """Records one row per span.  Disabled, a span records its wall time
    only and sets no job group, so untraced passes run the library
    untouched."""

    def __init__(self, enabled: bool = False, cpu_clock=None):
        self.sc = None
        self.cpu_clock = cpu_clock  # process-tree CPU seconds, if given
        self.enabled = enabled
        self.rows: list[dict] = []
        self.store_ok = True
        self._seq = 0

    def bind(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, **tags):
        traced = self.enabled and self.sc is not None
        if traced:
            self._seq += 1
            group = f"perfbench-{self._seq}-{name}"
            self.sc.setJobGroup(group, name)
        cpu0 = self.cpu_clock() if self.cpu_clock else 0.0
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            cpu = self.cpu_clock() - cpu0 if self.cpu_clock else 0.0
            if traced:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                row = self._collect(group, wall)
                row["collect_s"] = time.perf_counter() - t0 - wall
            else:
                row = _empty(wall)
            row.update(span=name, tree_cpu_s=cpu, **tags)
            self.rows.append(row)

    def _collect(self, group: str, wall: float) -> dict:
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # private API; counts may then lag slightly
            time.sleep(0.2)
        tracker = self.sc.statusTracker()
        row = _empty(wall)
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            row["jobs"] += 1
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            if self.store_ok:
                try:
                    self._add_stage(row, jsc.statusStore().lastStageAttempt(sid))
                    continue
                except Exception:  # private API gone: degrade to counts
                    self.store_ok = False
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numCompletedTasks > 0:
                row["stages"] += 1
                row["tasks"] += stage.numCompletedTasks
        return row

    @staticmethod
    def _add_stage(row: dict, st) -> None:
        if st.status().toString() == "SKIPPED":
            return
        row["stages"] += 1
        row["tasks"] += st.numCompleteTasks()
        row["executor_run_s"] += st.executorRunTime() / 1e3
        row["executor_cpu_s"] += st.executorCpuTime() / 1e9
        row["shuffle_read_mb"] += st.shuffleReadBytes() / MB
        row["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
        row["input_mb"] += st.inputBytes() / MB
        row["peak_exec_mem_mb"] = max(
            row["peak_exec_mem_mb"], st.peakExecutionMemory() / MB
        )
