"""Seeded generator for the benchmark's input tables.

The benchmark may read only inside its own checkout, so it cannot use a
pre-built fixture directory. It writes the TPC-H-ish star schema plus the
`events`, `documents` and `embeddings` tables that `team_126_spark.tables`
loads, one parquet file per table, with the column names, types and value
domains of the sf fixtures described in TESTDATA.md. The same `seed` and `sf`
always give byte-identical values.

Row counts follow the fixtures: customer 150k*sf, orders 1.5M*sf, lineitem
6M*sf, events 1M*sf, documents 50k*sf, embeddings max(500, 20k*sf) (the
geo queries join customers to embeddings on `c_custkey % 500`).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "es", "fr", "de", "zh")
PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "shiny", "cold")
PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EMB_DIM = 64
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)
# a kiosk message carrying a location, in the reference's chat format
LOCATION_MSG = "My current location is: Latitude {lat:.4f}, Longitude {lon:.4f}"

EPOCH_EVENTS = dt.datetime(2024, 1, 1)
EPOCH_ORDERS = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - EPOCH_ORDERS).days


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": max(10, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(10, round(200_000 * sf)),
        "orders": max(10, round(1_500_000 * sf)),
        "lineitem": max(10, round(6_000_000 * sf)),
        "events": max(10, round(1_000_000 * sf)),
        "documents": max(10, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(epoch: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word chains with planted near-duplicates, as in the fixtures
    (a copy of another doc plus the token "dup"). Every block of 20 docs
    holds one chain T, T+" dup", T+" dup dup" at offsets 0, 10 and 19, so
    the MinHash and component rows always find clusters, and the same
    cluster shape (hence the same number of component rounds) for every
    seed."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    seen: set[str] = set()
    for i in range(n):
        if i % 20 in (10, 19):
            t = texts[i - 10 if i % 20 == 10 else i - 9] + " dup"
        else:
            # the fixtures' texts are all distinct: re-draw the rare collisions
            t = " ".join(vocab[rng.integers(0, len(vocab), int(lengths[i]))])
            while t in seen:
                t = " ".join(vocab[rng.integers(0, len(vocab), int(lengths[i]))])
        seen.add(t)
        texts.append(t)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def unit_vectors(rng: np.random.Generator, n: int, dim: int = EMB_DIM) -> np.ndarray:
    v = rng.standard_normal((n, dim))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Events in time order over 2024-01-01..2024-01-30; 5% of the `props`
    strings carry a location message for the streaming regex parse."""
    span_us = 30 * 86_400 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n))
    keys = rng.integers(0, 100, n)
    lat = rng.uniform(32.5, 33.3, n)
    lon = rng.uniform(-117.6, -116.7, n)
    has_loc = rng.random(n) < 0.05
    props = [
        f'{{"k": {k}, "msg": "{LOCATION_MSG.format(lat=a, lon=b)}"}}' if loc else f'{{"k": {k}}}'
        for k, a, b, loc in zip(keys, lat, lon, has_loc)
    ]
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(EPOCH_EVENTS, offsets),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": _money(rng, 0.0, 560.0, n),
            "props": props,
        }
    )


def build_tables(sf: float, seed: int, names: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """The requested tables at scale `sf`. Each table draws from its own
    generator seeded by (seed, table), so a subset has the same values as
    the full set."""
    n = _counts(sf)

    def rng(name: str) -> np.random.Generator:
        return np.random.default_rng([seed, TABLES.index(name)])

    out: dict[str, pa.Table] = {}
    if "region" in names:
        out["region"] = pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        )
    if "nation" in names:
        out["nation"] = pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        )
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    if "customer" in names:
        r = rng("customer")
        out["customer"] = pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
                "c_acctbal": _money(r, -999.99, 9999.99, nc),
                "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, nc)],
            }
        )
    if "supplier" in names:
        r = rng("supplier")
        out["supplier"] = pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
                "s_acctbal": _money(r, -999.99, 9999.99, ns),
            }
        )
    if "part" in names:
        r = rng("part")
        out["part"] = pa.table(
            {
                "p_partkey": pa.array(np.arange(npart), pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(r.integers(0, 8, npart), r.integers(0, 8, npart))
                ],
                "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, npart)],
                "p_type": [PART_TYPES[i] for i in r.integers(0, 6, npart)],
                "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
                "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
            }
        )
    if "orders" in names or "lineitem" in names:
        r = rng("orders")
        order_day = r.integers(0, ORDER_DAYS + 1, no)
        orders = pa.table(
            {
                "o_orderkey": pa.array(np.arange(no), pa.int64()),
                "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
                "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, no)],
                "o_totalprice": _money(r, 1000.0, 500_000.0, no),
                "o_orderdate": _ts(EPOCH_ORDERS, order_day * 86_400_000_000),
                "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, no)],
            }
        )
        if "orders" in names:
            out["orders"] = orders
    if "lineitem" in names:
        r = rng("lineitem")
        nl = n["lineitem"]
        l_order = r.integers(0, no, nl)
        ship_day = order_day[l_order] + r.integers(1, 96, nl)
        out["lineitem"] = pa.table(
            {
                "l_orderkey": pa.array(l_order, pa.int64()),
                "l_partkey": pa.array(r.integers(0, npart, nl), pa.int64()),
                "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
                "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
                "l_quantity": r.integers(1, 51, nl).astype(np.float64),
                "l_extendedprice": _money(r, 900.0, 105_000.0, nl),
                "l_discount": np.round(r.integers(0, 11, nl) / 100.0, 2),
                "l_tax": np.round(r.integers(0, 9, nl) / 100.0, 2),
                "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, nl)],
                "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, nl)],
                "l_shipdate": _ts(EPOCH_ORDERS, ship_day * 86_400_000_000),
            }
        )
    if "events" in names:
        out["events"] = events_table(rng("events"), n["events"], nc)
    if "documents" in names:
        out["documents"] = _documents(rng("documents"), n["documents"])
    if "embeddings" in names:
        r = rng("embeddings")
        ne = n["embeddings"]
        out["embeddings"] = pa.table(
            {
                "vec_id": pa.array(np.arange(ne), pa.int64()),
                "embedding": pa.array(list(unit_vectors(r, ne)), pa.list_(pa.float32())),
                "label": pa.array(r.integers(0, 10, ne), pa.int32()),
            }
        )
    return out


def write_tables(sf_dir: str, tables: dict[str, pa.Table]) -> int:
    """One single-row-group parquet file per table, as in the fixtures.
    Returns the bytes written."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, tbl in tables.items():
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))
        total += os.path.getsize(path)
    return total
