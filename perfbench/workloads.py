"""Workload driver: set-up, warm pass, measured phases, checks, metrics.

Every workload reports the same end-to-end metrics, each with a
workload-specific meaning (BENCHMARK.json):

  op_p50_ms         median latency of one operation: a kiosk request
                    (search); a pass over the suite's rows, as the sum of
                    each row's median time (suite)
  throughput_per_s  operations completed per second, median over rounds:
                    requests over a round of one request of each kind
                    (search), rows over a pass (suite)
  setup_s           session start + package ship + input staging + the
                    untimed warm pass at the measured scale

The traced run reports the per-layer metrics in PER_LAYER. The record file
also holds each workload's own metrics under the names its layers use
(`queries.<row>.jobs`, `operators.vector.knn.p50_ms`, `streaming.*`, ...).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from .context import Context
from .ops import Op, count_mismatches, layer_metrics
from .spans import check_metric_name, failed_frac, median

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "throughput_per_s": "1/s"}
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.jobs_per_op": "count",
    "spark.sql_executions": "count",
    "spark.job_busy_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "tables.input_bytes": "bytes",
    "tables.input_rows": "count",
    "ops.build_ms_p50": "ms",
    "ops.action_ms_p50": "ms",
    "ops.driver_self_ms_p50": "ms",
    "session.start_s": "s",
    "session.ship_s": "s",
    "sources.stage_s": "s",
    "session.warm_s": "s",
    "session.driver_peak_rss_mb": "MB",
    "checks.count_mismatches": "count",
    "trace.overhead_frac": "frac",
}


@dataclass
class Phase:
    """One measured phase: its operations and what it produced."""

    ops: list[Op]
    latencies_s: list[float]  # one per operation, as op_p50_ms counts them
    units: int  # operations completed
    wall_s: float
    # operations per second of each round (a request of each kind, a pass),
    # whose median throughput_per_s reports
    round_rates: list[float]
    outputs: list = field(default_factory=list)  # kept for the checks
    layers: dict[str, float] = field(default_factory=dict)  # workload-specific


@dataclass
class Result:
    e2e: dict[str, float]
    layers: dict[str, float]
    detail: dict
    attempted: int
    failed: int
    problems: list[str]
    mismatches: dict

    def output_line(self, traced: bool) -> dict:
        units = PER_LAYER if traced else END_TO_END
        values = self.layers if traced else self.e2e
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                check_metric_name(k): {"value": float(values[k]), "unit": u}
                for k, u in units.items()
            },
        }

    def record(self) -> dict:
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "failed_frac": failed_frac(self.attempted, self.failed),
            "end_to_end": self.e2e,
            "per_layer": self.layers,
            "workload_metrics": self.detail,
            "count_mismatches": self.mismatches,
            "problems": self.problems[:50],
        }


def _workload(name: str, ctx: Context):
    if name == "search":
        from .search import Search as cls
    elif name == "suite":
        from .suite import Suite as cls
    else:
        raise ValueError(f"unknown workload {name!r}")
    return cls(ctx)


def run(name: str, ctx: Context) -> Result:
    wl = _workload(name, ctx)
    t0 = time.time()
    wl.stage()
    t1 = time.time()
    wl.warm()
    t2 = time.time()
    ctx.setup["sources.stage_s"] = t1 - t0
    ctx.setup["session.warm_s"] = t2 - t1
    setup_s = sum(ctx.setup[k] for k in ("session.start_s", "session.ship_s", "sources.stage_s", "session.warm_s"))

    plain = wl.measure(ctx.runner(False), "m")
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": 1e3 * median(plain.latencies_s),
        "throughput_per_s": median(plain.round_rates),
    }
    detail = {**wl.summarize(plain), "setup": dict(ctx.setup)}
    layers: dict[str, float] = {}
    mismatches: dict = {}
    checked = plain
    if ctx.traced:
        traced = wl.measure(ctx.runner(True), "t")
        checked = traced
        mismatches = count_mismatches(traced.ops)
        per_unit = lambda p: p.wall_s / max(1, p.units)  # noqa: E731
        layers = {
            **layer_metrics(traced.ops),
            **ctx.setup,
            "session.driver_peak_rss_mb": ctx.jvm_peak_rss_mb(),
            "checks.count_mismatches": len(mismatches),
            "trace.overhead_frac": per_unit(traced) / per_unit(plain) - 1.0,
            **traced.layers,
        }
        detail.update(traced.layers)
    t3 = time.time()
    attempted, failed, problems = wl.check(checked)
    detail["check_s"] = time.time() - t3
    errors = [f"{op.op_id}: {op.error}" for op in checked.ops if op.error]
    return Result(e2e, layers, detail, attempted, failed, errors + problems, mismatches)
