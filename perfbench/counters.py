"""Outside-in counters, read from the benchmark process only.

- Spark jobs and stages: every unit of work runs under a job group
  (``SparkContext.setJobGroup``); ``statusTracker()`` maps the group to its
  jobs and the status store (``AppStatusStore.stageData`` / ``taskSummary``
  over py4j, which work with the UI off) gives each stage's shuffle bytes,
  executor run time and task-time quantiles.
- Peak RSS: ``VmHWM`` of the JVM (``ProcessHandle.current().pid()``) and of
  this Python driver, from ``/proc/<pid>/status``.
- State size: a walk of a directory tree.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set size of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def dir_usage(root: str) -> tuple[int, int]:
    """(regular files, bytes) under ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            st = os.lstat(os.path.join(dirpath, name))
            files += 1
            size += st.st_size
    return files, size


@dataclass
class StageTotals:
    """Sums over the executed stages of one job group."""

    jobs: int = 0
    stages: int = 0
    shuffle_bytes: int = 0  # shuffle write bytes
    executor_run_s: float = 0.0
    #: slowest task / median task, of the stage with the most executor time
    task_skew: float = 1.0


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._tracker = self.sc.statusTracker()
        self._group: str | None = None
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._all_tasks = gw.jvm.java.util.ArrayList()

    def jvm_pid(self) -> int:
        return int(self.sc._gateway.jvm.java.lang.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        return (vm_hwm_kb(self.jvm_pid()) + vm_hwm_kb("self")) / 1024.0

    @contextmanager
    def group(self, name: str):
        """Run the block's Spark jobs under job group ``name``; groups nest."""
        outer = self._group
        self._group = name
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._group = outer
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(outer, outer)

    def _drain(self) -> None:
        # job/stage events reach the status store through the listener bus
        self._jsc.listenerBus().waitUntilEmpty()

    def totals(self, name: str) -> StageTotals:
        self._drain()
        out = StageTotals()
        stage_ids: set[int] = set()
        for job in self._tracker.getJobIdsForGroup(name):
            out.jobs += 1
            info = self._tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = self._jsc.statusStore()
        heaviest = -1.0
        for sid in sorted(stage_ids):
            attempts = store.stageData(
                sid, False, self._all_tasks, False, self._no_quantiles
            )
            for attempt in _iter_scala(attempts):
                if attempt.status().toString() != "COMPLETE":
                    continue
                out.stages += 1
                out.shuffle_bytes += int(attempt.shuffleWriteBytes())
                run_ms = float(attempt.executorRunTime())
                out.executor_run_s += run_ms / 1000.0
                if run_ms > heaviest and attempt.numTasks() >= 2:
                    heaviest = run_ms
                    out.task_skew = self._skew(store, sid, attempt.attemptId())
        return out

    def _skew(self, store, stage_id: int, attempt: int) -> float:
        summary = store.taskSummary(stage_id, attempt, self._quantiles)
        if summary.isEmpty():
            return 1.0
        run = summary.get().executorRunTime()
        median, top = float(run.apply(0)), float(run.apply(1))
        return top / median if median > 0 else 1.0


def _iter_scala(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()
