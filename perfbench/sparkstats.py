"""Spark job and stage metrics for one op, read from Spark's status store.

Each op runs under its own job group, and only that group's jobs are
read (``statusTracker().getJobIdsForGroup``), so unrelated session
activity cannot change an op's counts. Jobs that engine worker threads
submit carry no group (a Python thread does not inherit the caller's
JVM local properties); those are taken from the ungrouped list when they
were submitted inside the op's interval. Stages come from
``statusStore().lastStageAttempt(id)`` — ``stageList`` is avoided because
py4j cannot fill its Scala default arguments.
"""

from __future__ import annotations

from dataclasses import dataclass, field

#: StageData getters summed over an op's stages
_STAGE_SUMS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


@dataclass
class OpStats:
    jobs: list[tuple[int, float, float]] = field(default_factory=list)
    stage_tasks: list[int] = field(default_factory=list)
    sums: dict[str, float] = field(default_factory=lambda: dict.fromkeys(_STAGE_SUMS, 0.0))
    spill_bytes: float = 0.0


class SparkCollector:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.seen: set[int] = set(self.tracker.getJobIdsForGroup(None))

    def collect(self, group: str, t0: float, t1: float) -> OpStats:
        """Jobs of ``group`` plus ungrouped jobs submitted in [t0, t1]
        (wall-clock seconds)."""
        self.bus.waitUntilEmpty()
        out = OpStats()
        grouped = set(self.tracker.getJobIdsForGroup(group))
        ungrouped = set(self.tracker.getJobIdsForGroup(None)) - self.seen
        self.seen |= ungrouped
        stage_ids: set[int] = set()
        for jid in sorted(grouped | ungrouped):
            job = self.store.job(jid)
            start = job.submissionTime().get().getTime() / 1e3
            done = job.completionTime()
            end = done.get().getTime() / 1e3 if done.isDefined() else t1
            if jid in grouped or t0 - 0.01 <= start <= t1 + 0.01:
                out.jobs.append((jid, start, end))
                stage_ids.update(int(s) for s in job.stageIds().mkString(",").split(",") if s)
        for sid in sorted(stage_ids):
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out.stage_tasks.append(st.numTasks())
            for key, (getter, scale) in _STAGE_SUMS.items():
                out.sums[key] += getattr(st, getter)() * scale
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out
