"""Per-run state shared by the workloads."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from .ops import Runner
from .spans import Tracer
from .statusstore import StatusStore


@dataclass
class Context:
    spark: object
    seed: int
    seconds: float
    traced: bool
    work: str
    setup: dict[str, float] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.store = StatusStore(self.spark)
        self.tracer = Tracer(self.traced)

    def runner(self, traced: bool) -> Runner:
        return Runner(self.store, self.tracer if traced else Tracer(False))

    def path(self, *parts: str) -> str:
        """A directory under the run's work directory."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def jvm_peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM (VmHWM), 0 when unreadable."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        try:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except (AttributeError, OSError):
            pass
        return 0.0
