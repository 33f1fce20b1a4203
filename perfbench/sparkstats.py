"""Spark-side work counters read from the application status store.

The status store is populated by Spark's own listener even with the UI
disabled, so these numbers cost the engine nothing extra to produce.  Stage
rows come from the 5-argument ``AppStatusStore.stageList`` (Spark 4.x) and
task durations from ``taskList``; peak heap comes from the driver JVM's
memory-pool MXBeans (local mode runs every task in that JVM).  Executor
totals (``executorList``) are not used: they are cumulative per executor and
cannot be attributed to one micro-batch, while stage rows carry their
submission time.

A window is a ``[start, end]`` pair of epoch seconds; a stage belongs to the
window its submission time falls in.  Callers pick windows from the tail's
trigger progress, so per-batch numbers need no job tagging.
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass

COUNTER_KEYS = (
    "executor_cpu_s",
    "executor_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "tasks",
    "stages",
    "jobs",
)


@dataclass
class StageRow:
    stage_id: int
    attempt: int
    submitted: float
    num_tasks: int
    cpu_s: float
    run_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    spill: int


def _opt_epoch(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds, or None."""
    if opt is None or opt.isEmpty():
        return None
    return opt.get().getTime() / 1000.0


class SparkCounters:
    """Reads the completed stages, jobs and tasks of one SparkContext."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._jvm = self._sc._jvm

    def settle(self) -> None:
        """Wait until the listener bus has delivered every pending event, so
        stages that just finished are visible in the store."""
        self._jsc.listenerBus().waitUntilEmpty()

    def _store(self):
        return self._jsc.statusStore()

    def stages(self) -> list[StageRow]:
        ArrayList = self._jvm.java.util.ArrayList
        no_quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        rows = self._store().stageList(ArrayList(), False, False, no_quantiles, ArrayList())
        out = []
        it = rows.iterator()
        while it.hasNext():
            s = it.next()
            if s.status().toString() != "COMPLETE":
                continue
            sub = _opt_epoch(s.submissionTime())
            if sub is None:
                continue
            out.append(
                StageRow(
                    stage_id=s.stageId(),
                    attempt=s.attemptId(),
                    submitted=sub,
                    num_tasks=s.numCompleteTasks(),
                    cpu_s=s.executorCpuTime() / 1e9,
                    run_s=s.executorRunTime() / 1e3,
                    gc_s=s.jvmGcTime() / 1e3,
                    shuffle_write=s.shuffleWriteBytes(),
                    shuffle_read=s.shuffleReadBytes(),
                    spill=s.diskBytesSpilled(),
                )
            )
        return out

    def job_submissions(self) -> list[float]:
        jobs = self._store().jobsList(self._jvm.java.util.ArrayList())
        out = []
        it = jobs.iterator()
        while it.hasNext():
            t = _opt_epoch(it.next().submissionTime())
            if t is not None:
                out.append(t)
        return out

    def task_skew(self, stage: StageRow) -> float:
        """Longest task time over the median task time of one stage."""
        tasks = self._store().taskList(stage.stage_id, stage.attempt, 100000)
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if not d.isEmpty():
                durs.append(float(d.get()))
        if not durs:
            return 1.0
        med = statistics.median(durs)
        return max(durs) / med if med > 0 else 1.0

    def peak_heap_mb(self) -> float:
        mf = self._jvm.java.lang.management.ManagementFactory
        heap_type = self._jvm.java.lang.management.MemoryType.HEAP
        total = 0
        pools = mf.getMemoryPoolMXBeans()
        for i in range(pools.size()):
            p = pools.get(i)
            if p.getType() == heap_type:
                total += p.getPeakUsage().getUsed()
        return total / (1 << 20)


def window_counters(
    stages: list[StageRow], jobs: list[float], start: float, end: float
) -> dict[str, float]:
    """Sum the stage counters of every stage submitted inside ``[start, end]``."""
    inside = [s for s in stages if start <= s.submitted <= end]
    return {
        "executor_cpu_s": sum(s.cpu_s for s in inside),
        "executor_run_s": sum(s.run_s for s in inside),
        "gc_s": sum(s.gc_s for s in inside),
        "shuffle_write_bytes": sum(s.shuffle_write for s in inside),
        "shuffle_read_bytes": sum(s.shuffle_read for s in inside),
        "spill_bytes": sum(s.spill for s in inside),
        "tasks": sum(s.num_tasks for s in inside),
        "stages": len(inside),
        "jobs": sum(1 for t in jobs if start <= t <= end),
    }


def widest_shuffle_stage(stages: list[StageRow], start: float, end: float) -> StageRow | None:
    """The stage reading the most shuffle bytes inside the window: in a merge
    that is the key aggregate / winner-join stage."""
    inside = [s for s in stages if start <= s.submitted <= end and s.shuffle_read > 0]
    return max(inside, key=lambda s: s.shuffle_read, default=None)
