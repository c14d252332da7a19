"""`suite`: passes over the batch side of the engine with the noop sink.

One pass runs, in a seed-shuffled order, one row of each batch pipeline:

  doc_exact_dedup  curation: exact dedup (operators.dedup)
  doc_quality      curation: the text-quality score (operators.textops)
  join_multi       analytics: a multi-way join (operators.relational)
  stream_ingest    ETL: a streaming ingest drain (streaming, see stream.py)

The registry rows build their frame through `queries.REGISTRY[row].fn`
(running any eager jobs), then the noop sink runs the final action. At this
size each row's time is set by the jobs it starts and the driver work
around them, not by data volume, so a cut in jobs per query shows here.
After the measured passes each row's last result is checked: registry rows
against their registry DuckDB oracle, the ingest against the batch
pipeline.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np

from team_126_spark.queries import REGISTRY
from tools.oracle_check import TABLES, compare

from . import fixtures
from .spans import median
from .stream import ROW as INGEST
from .stream import Ingest
from .workloads import Phase

# the DuckDB oracles of the document rows grow quickly with the document count
SF = 0.001
# On a 4-core box a pass takes about 20 s cold, 4.4 s on its second run and
# 3.4-3.9 s from then on, so two passes warm up.
WARM_PASSES = 2
PASS_S = 3.5  # nominal length of one warm pass on a 4-core box
REGISTRY_ROWS = ("doc_exact_dedup", "doc_quality", "join_multi")
ROWS = REGISTRY_ROWS + (INGEST,)


def layer_name(row: str) -> str:
    return "streaming.ingest" if row == INGEST else f"queries.{row}"


class Suite:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sf_dir = ctx.path("sf")
        self.ingest = Ingest(ctx, self.sf_dir)
        self.rng = np.random.default_rng([ctx.seed, 4])

    def stage(self) -> None:
        fixtures.write_tables(self.sf_dir, fixtures.build_tables(SF, self.ctx.seed))
        self.ingest.stage()

    def run_row(self, runner, row: str, tag: str):
        op_id = f"{tag}-{row}"
        if row == INGEST:
            op, drain = runner.run(row, op_id, self.ingest.build, lambda df: self.ingest.drain(df, op_id))
            if runner.traced and drain is not None:
                self.ingest.attach_jobs(runner, op, drain)
            return op, drain
        fn = REGISTRY[row].fn
        return runner.run(
            row, op_id,
            lambda: fn(self.spark, self.sf_dir),
            lambda df: (df.write.format("noop").mode("overwrite").save(), df)[1],
        )

    def one_pass(self, runner, tag: str) -> list[tuple]:
        """(op, output) per row, in a seed-shuffled order."""
        return [self.run_row(runner, str(row), tag) for row in self.rng.permutation(ROWS)]

    def warm(self) -> None:
        for n in range(WARM_PASSES):
            self.one_pass(self.ctx.runner(False), f"warm{n}")

    def passes(self) -> int:
        """A fixed number of passes for the run length, at least three: the
        pass count must not depend on how fast the passes ran, and
        repetitions let the job counts of every row be compared."""
        return max(3, round(self.ctx.seconds / PASS_S))

    def measure(self, runner, phase: str) -> Phase:
        ops, last, drains, rates = [], {}, [], []
        t0 = time.time()
        for n in range(self.passes()):
            t1 = time.time()
            done = self.one_pass(runner, f"{phase}{n}")
            rates.append(len(done) / (time.time() - t1))
            for op, out in done:
                ops.append(op)
                last[op.kind] = (op, out if op.error is None else None)
                if op.kind == INGEST and op.error is None:
                    drains.append(out)
        wall = time.time() - t0
        # a pass's time as the sum of each row's median over the passes: one
        # slow call moves it less than it moves that pass's own sum
        pass_s = sum(median([op.wall_s for op in ops if op.kind == row]) for row in ROWS)
        p = Phase(ops, [pass_s], len(ops), wall, rates, [last[row] for row in ROWS])
        if runner.traced:
            p.layers = {**self.row_layers(ops), **Ingest.layers(drains)}
        return p

    def summarize(self, p: Phase) -> dict:
        return {"suite_s": p.latencies_s[0], "suite_passes": self.passes()}

    def row_layers(self, ops) -> dict:
        out: dict[str, float] = {}
        for row in ROWS:
            mine = [op for op in ops if op.kind == row and op.error is None]
            if mine:
                name = layer_name(row)
                out[f"{name}.build_s"] = median([op.build_s for op in mine])
                out[f"{name}.action_s"] = median([op.action_s for op in mine])
                out[f"{name}.jobs"] = median([len(op.total().jobs) for op in mine])
        return out

    def check(self, p: Phase) -> tuple[int, int, list[str]]:
        """Every row execution counts as attempted; errors fail, and each
        row of the last pass is compared with its oracle."""
        failed = sum(op.error is not None for op in p.ops)
        problems: list[str] = []
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'")
        for op, out in p.outputs:
            if out is None:
                continue
            if op.kind == INGEST:
                errs = self.ingest.check(out)
            else:
                cur = con.execute(REGISTRY[op.kind].oracle)
                err = compare(op.kind, out, cur.fetchall(), [d[0] for d in cur.description])
                errs = [f"{op.op_id}: {err}"] if err else []
            if errs:
                failed += 1
                problems += errs
        con.close()
        return len(p.ops), failed, problems
