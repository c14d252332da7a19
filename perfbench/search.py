"""`search`: a closed loop of kiosk requests from one client over sf0.1.

Requests cycle through the four kiosk shapes in a seed-shuffled order, each
with a fresh seeded probe (point, radius, vector, filter bounds), because
Spark inlines primitive literals into generated code and a repeated probe
would hit a codegen cache that real traffic misses:

  hybrid   operators.vector.hybrid_search over customer ⋈ embeddings
  geo      operators.geo.radius_topk over customers
  knn      operators.vector.knn over embeddings
  filter   operators.relational.ordered_limit over filtered orders
           (the search_filter_limit shape)

Each request builds its plan and collects at most K rows. Every request is
then checked against a DuckDB twin of the same shape and probe.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import duckdb
import numpy as np
from pyspark.sql import Row
from pyspark.sql import functions as F

from team_126_spark import tables as T
from team_126_spark.functions import geo as G
from team_126_spark.functions import vector as V
from team_126_spark.operators import geo as OG
from team_126_spark.operators import relational as R
from team_126_spark.operators import vector as OV
from tools.oracle_check import compare

from . import fixtures
from .spans import median, tail_percentile
from .workloads import Phase

SF = 0.1
K = 10
N_VEC = 500  # customers join embeddings on c_custkey % 500, as hybrid_fusion does
KINDS = ("hybrid", "geo", "knn", "filter")
OPERATOR = {
    "hybrid": "operators.vector.hybrid_search",
    "geo": "operators.geo.radius_topk",
    "knn": "operators.vector.knn",
    "filter": "operators.relational.ordered_limit",
}
WARM_REQUESTS = 8
REQUEST_S = 0.4  # nominal time of one warm request on a 4-core box
STREAMS = {"warm": 1, "m": 2, "t": 3}  # one probe stream per phase


@dataclass(frozen=True)
class Request:
    kind: str
    lat: float
    lon: float
    km: float
    vec: tuple[float, ...]
    status: str
    min_price: float


class Search:
    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sf_dir = ctx.path("sf")

    def stage(self) -> None:
        tables = fixtures.build_tables(SF, self.ctx.seed, ("customer", "embeddings", "orders"))
        fixtures.write_tables(self.sf_dir, tables)

    def requests(self, phase: str):
        """An endless seeded request sequence for one phase."""
        rng = np.random.default_rng([self.ctx.seed, STREAMS[phase]])
        while True:
            for kind in rng.permutation(KINDS):
                yield Request(
                    kind=str(kind),
                    lat=round(float(rng.uniform(32.6, 33.2)), 6),
                    lon=round(float(rng.uniform(-117.5, -116.8)), 6),
                    km=float(rng.choice([10.0, 20.0, 30.0])),
                    vec=tuple(float(x) for x in fixtures.unit_vectors(rng, 1)[0]),
                    status=str(rng.choice(["F", "O", "P"])),
                    min_price=round(float(rng.uniform(10_000, 490_000)), 2),
                )

    # ---------------------------------------------------------- requests

    def build(self, q: Request):
        spark, sf = self.spark, self.sf_dir
        if q.kind == "hybrid":
            cust = T.with_geo(T.table(spark, sf, "customer"), "c_custkey")
            frame = cust.withColumn("vec_id", F.col("c_custkey") % N_VEC).join(
                T.table(spark, sf, "embeddings"), "vec_id"
            )
            return OV.hybrid_search(frame, "embedding", list(q.vec), q.lat, q.lon, q.km, K, "c_custkey")
        if q.kind == "geo":
            cust = T.with_geo(T.table(spark, sf, "customer"), "c_custkey")
            return OG.radius_topk(cust, "lat", "lon", q.lat, q.lon, q.km, K, "c_custkey")
        if q.kind == "knn":
            return OV.knn(T.table(spark, sf, "embeddings"), "embedding", list(q.vec), K, "vec_id")
        orders = T.table(spark, sf, "orders")
        return R.ordered_limit(
            orders.filter((F.col("o_orderstatus") == q.status) & (F.col("o_totalprice") >= q.min_price)),
            [F.col("o_orderkey").asc()],
            K,
        )

    def loop(self, runner, phase: str, count: int) -> Phase:
        ops, outputs = [], []
        reqs = self.requests(phase)
        t0 = time.time()
        # whole rounds, so every kind has the same count
        while len(ops) < count or len(ops) % len(KINDS):
            q = next(reqs)
            op, rows = runner.run(q.kind, f"{phase}{len(ops)}", lambda q=q: self.build(q), lambda df: df.collect())
            ops.append(op)
            outputs.append((q, rows))
        wall = time.time() - t0
        n = len(KINDS)
        rates = [n / (ops[i + n - 1].end - ops[i].start) for i in range(0, len(ops), n)]
        return Phase(ops, [op.wall_s for op in ops], len(ops), wall, rates, outputs)

    def warm(self) -> None:
        self.loop(self.ctx.runner(False), "warm", WARM_REQUESTS)

    def count(self) -> int:
        """A fixed number of requests for the run length: the count must not
        depend on how fast the requests ran, so that every run reports the
        same stretch of the session's warm-up."""
        return max(4 * len(KINDS), round(self.ctx.seconds / REQUEST_S))

    def measure(self, runner, phase: str) -> Phase:
        p = self.loop(runner, phase, self.count())
        if runner.traced:
            p.layers = self.operator_layers(p)
        return p

    # ---------------------------------------------------------- metrics

    def summarize(self, p: Phase) -> dict:
        lat_ms = [1e3 * x for x in p.latencies_s]
        return {
            "search_p50_ms": median(lat_ms),
            "search_tail_ms": tail_percentile(lat_ms),
            "search_n": len(lat_ms),
            "search_rps": median(p.round_rates),
        }

    def operator_layers(self, p: Phase) -> dict:
        out: dict[str, float] = {}
        rows_in = rows_out = 0
        for kind in KINDS:
            ops = [op for op in p.ops if op.kind == kind and op.error is None]
            if not ops:
                continue
            name = OPERATOR[kind]
            out[f"{name}.p50_ms"] = 1e3 * median([op.wall_s for op in ops])
            out[f"{name}.build_ms"] = 1e3 * median([op.build_s for op in ops])
            out[f"{name}.jobs"] = median([len(op.total().jobs) for op in ops])
        for op, (_, rows) in zip(p.ops, p.outputs):
            if op.error is None:
                rows_in += op.total().input_rows
                rows_out += len(rows)
        out["search.rows_scanned_per_result"] = rows_in / max(1, rows_out)
        return out

    # ---------------------------------------------------------- checks

    def twin_sql(self, q: Request) -> tuple[str, list[str]]:
        """The DuckDB twin of a request: same shape, same probe, and the
        columns compared (id + the score the request ranks by)."""
        # the probe as a one-row CTE: DuckDB binds an inlined 64-element list
        # literal once per reference, which is ~70x slower at this size
        with_probe = "WITH p AS (SELECT [" + ", ".join(repr(x) for x in q.vec) + "]::DOUBLE[] AS probe) "
        lat, lon = T.derived_lat_sql("c_custkey"), T.derived_lon_sql("c_custkey")
        dist = G.haversine_sql(repr(q.lat), repr(q.lon), "lat", "lon")
        if q.kind == "hybrid":
            sim = V.cosine_similarity_sql("e.embedding", "p.probe")
            return (
                with_probe
                + f"""SELECT c_custkey, 0.5 * similarity + 0.5 * (1.0 - d / {q.km!r}) AS combined_score
                FROM (SELECT g.c_custkey, g.d, {sim} AS similarity
                      FROM (SELECT c_custkey, {dist} AS d
                            FROM (SELECT c_custkey, {lat} AS lat, {lon} AS lon FROM customer))
                           g JOIN embeddings e ON e.vec_id = g.c_custkey % {N_VEC}
                           CROSS JOIN p
                      WHERE g.d <= {q.km!r})
                ORDER BY combined_score DESC, c_custkey LIMIT {K}""",
                ["c_custkey", "combined_score"],
            )
        if q.kind == "geo":
            return (
                f"""SELECT c_custkey, d AS distance_km FROM (
                      SELECT c_custkey, {dist} AS d
                      FROM (SELECT c_custkey, {lat} AS lat, {lon} AS lon FROM customer))
                WHERE d <= {q.km!r} ORDER BY d, c_custkey LIMIT {K}""",
                ["c_custkey", "distance_km"],
            )
        if q.kind == "knn":
            sim = V.cosine_similarity_sql("embedding", "p.probe")
            return (
                with_probe
                + f"""SELECT vec_id, {sim} AS similarity FROM embeddings CROSS JOIN p
                WHERE embedding IS NOT NULL ORDER BY similarity DESC, vec_id LIMIT {K}""",
                ["vec_id", "similarity"],
            )
        return (
            f"""SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM orders
            WHERE o_orderstatus = '{q.status}' AND o_totalprice >= {q.min_price!r}
            ORDER BY o_orderkey LIMIT {K}""",
            ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"],
        )

    def check(self, p: Phase) -> tuple[int, int, list[str]]:
        con = duckdb.connect()
        for name in ("customer", "embeddings", "orders"):
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        failed, problems = 0, []
        for op, (q, rows) in zip(p.ops, p.outputs):
            if op.error is not None:
                failed += 1
                continue
            sql, cols = self.twin_sql(q)
            cur = con.execute(sql)
            o_cols = [d[0] for d in cur.description]
            o_rows = [tuple(_round(v) for v in r) for r in cur.fetchall()]
            got = Collected(cols, [{c: _round(r[c]) for c in cols} for r in rows])
            err = compare(op.op_id, got, o_rows, o_cols)
            if err:
                failed += 1
                problems.append(f"{op.op_id} {q.kind}: {err}")
        con.close()
        return len(p.ops), failed, problems


def _round(v):
    return round(v, 6) if isinstance(v, float) else v


class Collected:
    """Already-collected rows in the shape `oracle_check.compare` reads
    (`columns` and `collect()`), so checking re-runs nothing on Spark."""

    def __init__(self, columns: list[str], rows: list[dict]):
        self.columns = columns
        self._rows = [Row(**r) for r in rows]

    def collect(self) -> list[Row]:
        return self._rows
