"""Spans, percentiles and metric bookkeeping for the benchmark.

Spans stay in memory and are written once when the run ends. A span's self
time is its duration minus the part of its interval that its child spans
cover (overlapping children count once).
"""

from __future__ import annotations

import json
import math
import re
from dataclasses import asdict, dataclass, field
from typing import Iterable

METRIC_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# candidate percentiles, highest first; the rule picks the highest one that
# has at least TAIL_MIN samples beyond it
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN = 10


def check_metric_name(name: str) -> str:
    if not METRIC_NAME.match(name):
        raise ValueError(f"metric name {name!r} is not 1-64 of [A-Za-z0-9_.-]")
    return name


def percentile(values: Iterable[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values: Iterable[float]) -> float:
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail_percentile(values: list[float]) -> dict | None:
    """The highest percentile with at least TAIL_MIN samples beyond it, with
    the sample count, or None when even the median has fewer."""
    n = len(values)
    for p in PERCENTILES:
        beyond = n - max(1, math.ceil(p / 100.0 * n))
        if beyond >= TAIL_MIN:
            return {"p": p, "value": percentile(values, p), "n": n, "beyond": beyond}
    return None


def covered(start: float, end: float, intervals: Iterable[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of `intervals`."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("failed_frac needs at least one attempted operation")
    return failed / attempted


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing, so the
    untraced run pays only the `enabled` test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(
        self, name: str, start: float, end: float, parent: int | None = None,
        op: str | None = None, **attrs,
    ) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, op, attrs))
        return sid

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        return (s.end - s.start) - covered(
            s.start, s.end, [(c.start, c.end) for c in self.children(sid)]
        )

    def dump(self, path: str) -> None:
        rows = []
        for s in self.spans:
            row = asdict(s)
            row["self_s"] = self.self_time(s.sid)
            rows.append(row)
        with open(path, "w") as fh:
            json.dump(rows, fh)
