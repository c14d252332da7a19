"""Timed calls into the program's layers and the metrics derived from them.

An operation (a kiosk request, a registry row, a micro-batch) has a build
phase, which constructs the plan and runs any eager jobs the function
starts, and an action phase, which runs the final action. Untraced, an
operation is two clock reads. Traced, each phase runs in its own job group,
its Spark record is read back from the status store, and the operation,
both phases and every job become spans.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any, Callable

from .statusstore import CallStats, StatusStore
from .spans import Tracer, covered, median


@dataclass
class Op:
    kind: str
    op_id: str
    start: float
    end: float
    build_s: float
    action_s: float
    stats: dict[str, CallStats] = field(default_factory=dict)  # phase -> record
    span: int | None = None
    error: str | None = None

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    def total(self) -> CallStats:
        out = CallStats()
        for s in self.stats.values():
            out.add(s)
        return out


class Runner:
    """Runs operations against one session, traced or not."""

    def __init__(self, store: StatusStore, tracer: Tracer):
        self.store = store
        self.tracer = tracer

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def _phase(self, op: Op, phase: str, fn: Callable[[], Any], parent: int | None) -> tuple[Any, float]:
        """Run one phase; returns its result and its duration, which
        excludes the status-store read that follows a traced phase."""
        if not self.traced:
            t0 = time.time()
            return fn(), time.time() - t0
        clock: list[float] = []

        def timed():
            clock.append(time.time())
            try:
                return fn()
            finally:
                clock.append(time.time())

        out, stats = self.store.call(f"{op.op_id}:{phase}", timed)
        t0, t1 = clock
        op.stats[phase] = stats
        sid = self.tracer.add(phase, t0, t1, parent, op.op_id, kind=op.kind)
        for j in stats.jobs:
            self.tracer.add(
                f"job {j.job_id}", j.start, j.end, sid, op.op_id,
                status=j.status, stages=len(j.stage_ids),
            )
        return out, t1 - t0

    def run(
        self, kind: str, op_id: str, build: Callable[[], Any], action: Callable[[Any], Any]
    ) -> tuple[Op, Any]:
        """Time build() then action(built). An exception is recorded on the
        Op (and counted as a failure by the caller), not raised."""
        op = Op(kind, op_id, time.time(), 0.0, 0.0, 0.0)
        op.span = self.tracer.add(kind, op.start, 0.0, None, op_id)
        result = None
        try:
            built, op.build_s = self._phase(op, "build", build, op.span)
            result, op.action_s = self._phase(op, "action", lambda: action(built), op.span)
        except Exception as exc:  # noqa: BLE001 — a failed call is a measured outcome
            op.error = f"{type(exc).__name__}: {str(exc)[:300]}"
        op.end = time.time()
        if op.span is not None:
            self.tracer.spans[op.span].end = op.end
        return op, result


def layer_metrics(ops: list[Op]) -> dict[str, float]:
    """The generic per-layer metrics of one traced measured phase. Busy and
    gap time exclude the status-store reads that tracing adds."""
    total = CallStats()
    for op in ops:
        total.add(op.total())
    busy = sum(covered(op.start, op.end, op.total().intervals) for op in ops)
    timed = sum(op.build_s + op.action_s for op in ops)
    # driver self time: the operation's timed phases with no job of its own running
    self_ms = [
        1e3 * max(0.0, op.build_s + op.action_s - covered(op.start, op.end, op.total().intervals))
        for op in ops
    ]
    return {
        "spark.jobs": len(total.jobs),
        "spark.stages": total.stages,
        "spark.tasks": total.tasks,
        "spark.jobs_per_op": len(total.jobs) / max(1, len(ops)),
        "spark.sql_executions": total.sql_executions,
        "spark.failed_tasks": total.failed_tasks,
        "spark.job_busy_s": busy,
        "spark.driver_gap_s": max(0.0, timed - busy),
        "spark.executor_run_s": total.executor_run_s,
        "spark.executor_cpu_s": total.executor_cpu_s,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes,
        "spark.spill_bytes": total.spill_bytes,
        "tables.input_bytes": total.input_bytes,
        "tables.input_rows": total.input_rows,
        "ops.build_ms_p50": 1e3 * median([op.build_s for op in ops]),
        "ops.action_ms_p50": 1e3 * median([op.action_s for op in ops]),
        "ops.driver_self_ms_p50": median(self_ms),
    }


def count_mismatches(ops: list[Op]) -> dict[str, list[tuple[int, int, int]]]:
    """Kinds whose (jobs, stages, tasks) differ between repetitions."""
    seen: dict[str, set[tuple[int, int, int]]] = {}
    for op in ops:
        if op.stats and op.error is None:
            seen.setdefault(op.kind, set()).add(op.total().counts())
    return {k: sorted(v) for k, v in seen.items() if len(v) > 1}
