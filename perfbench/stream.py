"""The suite's streaming row: a micro-batch ingest of staged events files.

A seeded slice of sf0.1-shaped events is staged as FILES parquet files of
5k rows (5% of each file re-sends rows of the same file, as an
at-least-once source would). Every pass of the suite drains the same files
again, with a fresh checkpoint and sink, through

  streaming.stream_events -> message_pipeline (regex parse + stub embedder)
  -> stream_dedup -> run_idempotent_file_sink (per-batch parquet + checkpoint)

with trigger availableNow, one file per micro-batch. A drain therefore pays
the query start, the micro-batch, the state store, the WAL and commit
writes and the query stop. The sink of the last drain is checked against
the batch message_pipeline + dedup over the same staged rows.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from team_126_spark.streaming import (
    message_pipeline,
    run_idempotent_file_sink,
    stream_dedup,
    stream_events,
)

from . import fixtures
from .ops import Op
from .spans import median

ROW = "stream_ingest"
FILES = 1
FILE_ROWS = 5000
N_USERS = 15_000  # the sf0.1 customer count
DUP_FRAC = 0.05
DURATIONS = {
    "addBatch": "streaming.add_batch_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
    "commitOffsets": "streaming.commit_offsets_ms",
    "latestOffset": "streaming.latest_offset_ms",
}


class _Progress(StreamingQueryListener):
    """Collects one query's progress reports."""

    def __init__(self):
        self.run_id: str | None = None
        self.reports: list[dict] = []
        self.done = threading.Event()

    def onQueryStarted(self, event):
        self.run_id = str(event.runId)

    def onQueryProgress(self, event):
        self.reports.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.done.set()


class Drain:
    """What one drain left behind: its sink, run id and progress reports."""

    def __init__(self, out: str, run_id: str | None, reports: list[dict]):
        self.out = out
        self.run_id = run_id
        self.batches = [r for r in reports if r.get("numInputRows", 0) > 0]


class Ingest:
    def __init__(self, ctx, sf_dir: str):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sf_dir = sf_dir  # holds the events table the source takes its schema from
        self.in_dir = ctx.path("in")

    def stage(self) -> None:
        rng = np.random.default_rng([self.ctx.seed, 5])
        n_orig = round(FILE_ROWS * (1 - DUP_FRAC))
        events = fixtures.events_table(rng, n_orig * FILES, N_USERS)
        mtime = time.time() - 3600
        for i in range(FILES):
            part = events.slice(i * n_orig, n_orig)
            dups = rng.integers(0, n_orig, FILE_ROWS - n_orig)
            order = rng.permutation(FILE_ROWS)
            rows = pa.concat_tables([part, part.take(dups)]).take(order)
            path = os.path.join(self.in_dir, f"part-{i:05d}.parquet")
            pq.write_table(rows, path)
            # the file source takes files oldest first
            mtime += 1
            os.utime(path, (mtime, mtime))

    def build(self):
        src = stream_events(self.spark, self.sf_dir, self.in_dir)
        return stream_dedup(message_pipeline(src, "props"), ["event_id"])

    def drain(self, deduped, tag: str) -> Drain:
        """Run one availableNow query to its end."""
        out = self.ctx.path("out", tag)
        ckpt = os.path.join(self.ctx.work, "ckpt", tag)
        listener = _Progress()
        self.spark.streams.addListener(listener)
        try:
            run_idempotent_file_sink(deduped, out, ckpt)
            if not listener.done.wait(60):
                raise RuntimeError(f"no termination event for drain {tag}")
        finally:
            self.spark.streams.removeListener(listener)
        return Drain(out, listener.run_id, listener.reports)

    def attach_jobs(self, runner, op: Op, drain: Drain) -> None:
        """The query's jobs run in its own job group (its run id), not in
        the group of the call that started it: add them to the action."""
        stats = runner.store.read_group(drain.run_id)
        op.stats["action"].add(stats)
        for j in stats.jobs:
            runner.tracer.add(f"job {j.job_id}", j.start, j.end, op.span, op.op_id, status=j.status)

    @staticmethod
    def layers(drains: list[Drain]) -> dict[str, float]:
        batches = [b for d in drains for b in d.batches]
        out: dict[str, float] = {}
        for key, name in DURATIONS.items():
            out[name] = median([b.get("durationMs", {}).get(key, 0) for b in batches])
        state = batches[-1].get("stateOperators") or [{}]
        out["streaming.state_rows"] = state[0].get("numRowsTotal", 0)
        out["streaming.state_memory_bytes"] = state[0].get("memoryUsedBytes", 0)
        out["streaming.batch_ms"] = median([b["batchDuration"] for b in batches])
        return out

    def check(self, drain: Drain) -> list[str]:
        """Sink rows against the batch pipeline over the same files."""
        staged = self.spark.read.parquet(self.in_dir)
        for name, dtype in staged.dtypes:
            if dtype == "timestamp_ntz":
                staged = staged.withColumn(name, F.col(name).cast("timestamp"))
        expected = message_pipeline(staged, "props").dropDuplicates(["event_id"])
        sink = self.spark.read.parquet(drain.out).select(*expected.columns)
        # rows compare by (event_id, hash of the whole row); expected has one
        # row per event_id, so every sink row beyond the matched ones is extra.
        # (exceptAll over the embedder's output fails inside Spark 4.1.2 with
        # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND.)
        keyed = lambda df: df.select("event_id", F.xxhash64(*expected.columns).alias("h"))  # noqa: E731
        want = keyed(expected).localCheckpoint()  # the embedder runs once
        n, n_sink = want.count(), sink.count()
        missing = want.join(keyed(sink), ["event_id", "h"], "left_anti").count()
        extra = n_sink - (n - missing)
        problems = [f"{ROW} sink differs: {missing} missing, {extra} extra of {n}"] if missing or extra else []
        if len(drain.batches) != FILES:
            problems.append(f"{ROW}: {len(drain.batches)} micro-batches for {FILES} files")
        return problems
