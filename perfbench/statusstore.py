"""One reader of Spark's own records of the calls the benchmark makes.

`StatusStore.call(group, fn)` runs `fn` inside a job group and returns what
Spark recorded for that group: its jobs with their submission and
completion times, the stages those jobs ran (skipped stages excluded) and
the stages' task counts, input/shuffle/spill bytes and executor run and
CPU time. It reads `statusTracker()` for the group's job ids and the
application status store for the job and stage data; the SQL status store
(`sharedState().statusStore()`) supplies the SQL execution count. All three
are kept by Spark's listeners whether or not the UI is enabled.

The listeners run on Spark's listener bus, behind the action that posted
the events, so every read first waits for the bus to drain.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable, TypeVar

T = TypeVar("T")


@dataclass
class JobRecord:
    job_id: int
    start: float  # epoch seconds
    end: float
    status: str
    stage_ids: list[int]


@dataclass
class CallStats:
    """What Spark recorded for one job group."""

    jobs: list[JobRecord] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    sql_executions: int = 0

    @property
    def intervals(self) -> list[tuple[float, float]]:
        return [(j.start, j.end) for j in self.jobs]

    def counts(self) -> tuple[int, int, int]:
        return (len(self.jobs), self.stages, self.tasks)

    def add(self, other: "CallStats") -> None:
        self.jobs.extend(other.jobs)
        for name in (
            "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
            "input_bytes", "input_rows", "shuffle_write_bytes",
            "spill_bytes", "sql_executions",
        ):
            setattr(self, name, getattr(self, name) + getattr(other, name))


def _opt_ms(opt: Any) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(jseq: Any) -> list:
    out, it = [], jseq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


class StatusStore:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = self.sc.statusTracker()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def sql_executions(self) -> int:
        """SQL executions recorded so far in this application."""
        return self._sql.executionsCount()

    def job_ids(self, group: str) -> list[int]:
        self.drain()
        return list(self._tracker.getJobIdsForGroup(group))

    def call(self, group: str, fn: Callable[[], T]) -> tuple[T, CallStats]:
        """Run `fn` with its jobs tagged `group` and read back their record.
        `group` must be unique for the run."""
        self.sc.setJobGroup(group, group, interruptOnCancel=False)
        sql_before = self.sql_executions()
        try:
            out = fn()
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        stats = self.read_group(group)
        stats.sql_executions = self.sql_executions() - sql_before
        return out, stats

    def read_group(self, group: str) -> CallStats:
        return self.read_jobs(self.job_ids(group))

    def read_jobs(self, job_ids: list[int]) -> CallStats:
        stats = CallStats()
        seen: set[int] = set()
        for job_id in sorted(job_ids):
            jd = self._app.job(job_id)
            start = _opt_ms(jd.submissionTime())
            end = _opt_ms(jd.completionTime()) or time.time()
            stage_ids = [int(s) for s in _seq(jd.stageIds())]
            stats.jobs.append(
                JobRecord(job_id, start if start is not None else end, end, str(jd.status()), stage_ids)
            )
            for sid in stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self._app.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                stats.stages += 1
                stats.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
                stats.failed_tasks += sd.numFailedTasks()
                stats.executor_run_s += sd.executorRunTime() / 1e3
                stats.executor_cpu_s += sd.executorCpuTime() / 1e9
                stats.input_bytes += sd.inputBytes()
                stats.input_rows += sd.inputRecords()
                stats.shuffle_write_bytes += sd.shuffleWriteBytes()
                stats.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return stats
