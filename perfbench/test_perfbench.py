"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import numpy as np
import pytest

from perfbench import fixtures
from perfbench.ops import Op
from perfbench.spans import (
    Tracer,
    check_metric_name,
    covered,
    failed_frac,
    median,
    percentile,
    tail_percentile,
)
from perfbench.workloads import END_TO_END, PER_LAYER, Phase

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99) == 99
    assert percentile([7.0], 99.9) == 7.0
    assert median([3.0, 1.0, 2.0, 10.0]) == 2.5


def test_tail_rule_needs_ten_samples_beyond():
    assert tail_percentile(list(range(19))) is None  # the median has 9 beyond
    t = tail_percentile([float(i) for i in range(20)])
    assert (t["p"], t["beyond"], t["n"]) == (50.0, 10, 20)
    t = tail_percentile([float(i) for i in range(100)])
    assert t["p"] == 90.0 and t["beyond"] == 10 and t["value"] == 89.0
    t = tail_percentile([float(i) for i in range(1000)])
    assert t["p"] == 99.0 and t["beyond"] == 10


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, [(1, 3), (2, 5), (8, 12), (-5, -1)]) == pytest.approx(6.0)
    assert covered(0, 10, []) == 0.0


def test_span_self_time_subtracts_children_once():
    tr = Tracer(True)
    root = tr.add("op", 0.0, 10.0)
    tr.add("build", 1.0, 4.0, root)
    tr.add("action", 3.0, 6.0, root)  # overlaps build by 1 s
    job = tr.add("job 1", 3.5, 5.0, 1)
    assert tr.self_time(root) == pytest.approx(5.0)
    assert tr.self_time(1) == pytest.approx(3.0 - 0.5)
    assert tr.self_time(job) == pytest.approx(1.5)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    assert tr.add("y", 0, 1) is None and tr.spans == []


def test_metric_name_charset():
    for name in list(END_TO_END) + list(PER_LAYER) + ["queries.pagerank_topk.jobs"]:
        assert check_metric_name(name) == name
    for bad in ("", ".lead", "has space", "slash/name", "x" * 65, "ünicode"):
        with pytest.raises(ValueError):
            check_metric_name(bad)


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["search", "suite"]


def test_fixtures_are_seeded():
    a = fixtures.build_tables(0.001, 3, ("documents", "events"))
    b = fixtures.build_tables(0.001, 3, ("events", "documents"))
    c = fixtures.build_tables(0.001, 4, ("documents",))
    assert a["documents"].equals(b["documents"]) and a["events"].equals(b["events"])
    assert not a["documents"].equals(c["documents"])
    texts = a["documents"].column("text").to_pylist()
    assert len(set(texts)) == len(texts)
    assert any(t.endswith(" dup") for t in texts)


def _search(tmp_path):
    from perfbench.search import Search

    ctx = SimpleNamespace(spark=None, seed=11, path=lambda *p: str(tmp_path.joinpath(*p)))
    s = Search(ctx)
    s.sf_dir = str(tmp_path)
    fixtures.write_tables(s.sf_dir, fixtures.build_tables(0.01, 11, ("customer", "embeddings", "orders")))
    return s


def test_wrong_result_raises_failed_frac(tmp_path):
    """Feed the search check the twins' own rows as the engine's output,
    then corrupt one request's rows: exactly that request must fail."""
    import duckdb

    s = _search(tmp_path)
    reqs = s.requests("m")
    con = duckdb.connect()
    for name in ("customer", "embeddings", "orders"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{tmp_path}/{name}.parquet'")
    ops, outputs = [], []
    for i in range(8):
        q = next(reqs)
        sql, cols = s.twin_sql(q)
        rows = [dict(zip(cols, r)) for r in con.execute(sql).fetchall()]
        ops.append(Op(q.kind, f"m{i}", 0.0, 1.0, 0.5, 0.5))
        outputs.append((q, rows))
    good = Phase(ops, [1.0] * 8, 8, 8.0, [4.0, 4.0], outputs)
    attempted, failed, problems = s.check(good)
    assert (attempted, failed, problems) == (8, 0, [])
    assert failed_frac(attempted, failed) == 0.0

    q, rows = outputs[3]
    assert rows, "the corrupted request must have returned rows"
    key = next(iter(rows[0]))
    bad_rows = [dict(rows[0], **{key: rows[0][key] + 1})] + rows[1:]
    bad = Phase(ops, [1.0] * 8, 8, 8.0, [4.0, 4.0], outputs[:3] + [(q, bad_rows)] + outputs[4:])
    attempted, failed, problems = s.check(bad)
    assert (attempted, failed) == (8, 1) and problems[0].startswith("m3")
    assert failed_frac(attempted, failed) == pytest.approx(1 / 8)


def test_request_sequence_is_seeded_and_mixed(tmp_path):
    from perfbench.search import KINDS

    s = _search(tmp_path)
    gen1, gen2, other = s.requests("m"), s.requests("m"), s.requests("t")
    first = [next(gen1) for _ in range(8)]
    assert first == [next(gen2) for _ in range(8)]
    assert first != [next(other) for _ in range(8)]
    assert sorted(q.kind for q in first[:4]) == sorted(KINDS)
    assert np.isclose(np.linalg.norm(first[0].vec), 1.0, atol=1e-6)
