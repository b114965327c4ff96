"""Seeded generator for the benchmark's input tables.

Writes the ten analytics tables the queries and the catalog read
(``region nation customer supplier part orders lineitem events
documents embeddings``), one ``<name>.parquet`` file each, with the
row counts of a TPC-H-like star schema at ``scale`` (``scale=0.01``:
60 000 lineitem rows). Row counts, key ranges and value distributions
are those measured on the repository's fixture tables (TESTDATA.md,
seed 42): uniform foreign keys (so lines per order are Poisson with
mean 4, as there), independent uniform dates, prices and flags,
exponential event values, documents of 10-99 words from a 31-word
vocabulary of which 5 % are another document with `` dup`` appended,
64-dim normal embeddings with ten labels. ``datastats.py`` prints the
compared statistics for any table directory; METRICS.md lists both
sides.

The same ``(scale, seed)`` always produces the same rows, so a
benchmark run's inputs depend only on its ``--seed``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_ADJ = ["blue", "hot", "small", "old", "cold", "red", "new", "large"]
_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_VOCAB = (
    "join hash row batch scan customer column filter small slow merge "
    "order vector line data table agg value key stream window spark a "
    "group part big sort query fast the"
).split()

_ORDER_START = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _ORDER_START).astype(np.int64))


def _days_to_ts(days: np.ndarray) -> pa.Array:
    ts = (_ORDER_START + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(ts, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def table_rows(scale: float) -> dict[str, int]:
    """Row count per table at ``scale``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(10, int(150_000 * scale)),
        "supplier": max(5, int(10_000 * scale)),
        "part": max(20, int(200_000 * scale)),
        "orders": max(100, int(1_500_000 * scale)),
        "lineitem": max(400, int(6_000_000 * scale)),
        "events": max(100, int(1_000_000 * scale)),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(_VOCAB, int(k))) for k in rng.integers(10, 100, n)]
    # Near duplicates: 5 % of the documents become another document
    # with one word appended (word 3-gram Jaccard (k-2)/(k-1) >= 0.89).
    for i in np.sort(rng.choice(n, n // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _build(name: str, rng: np.random.Generator, n: dict[str, int]) -> pa.Table:
    """One table; foreign keys only depend on the row counts ``n``."""
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    if name == "region":
        return pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc), pa.string()),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        })
    if name == "part":
        return pa.table({
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [f"{a} {b}" for a, b in zip(
                    rng.choice(_ADJ, npart), rng.choice(_NOUN, npart)
                )],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
                pa.string(),
            ),
            "p_type": pa.array(rng.choice(_PTYPES, npart), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(
                900.0 + (np.arange(npart) % 1000) / 10.0, 2
            ),
        })
    if name == "orders":
        return order_batch(rng, np.arange(no), nc)
    if name == "lineitem":
        nl = n["lineitem"]
        qty = rng.integers(1, 51, nl).astype(np.float64)
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": pa.array(
                rng.choice(["A", "N", "R"], nl), pa.string()
            ),
            "l_linestatus": pa.array(rng.choice(["O", "F"], nl), pa.string()),
            "l_shipdate": _days_to_ts(rng.integers(1, _ORDER_DAYS + 96, nl)),
        })
    if name == "events":
        ne = n["events"]
        start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        span_us = 30 * 86_400 * 1_000_000
        ts = np.sort(rng.integers(start, start + span_us, ne))
        return pa.table({
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, max(10, nc // 10), ne), pa.int64()
            ),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, ne), pa.string()),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
                pa.string(),
            ),
        })
    if name == "documents":
        return _documents(rng, n["documents"])
    nv = n["embeddings"]
    vec = rng.normal(0.0, 0.125, (nv, 64)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.reshape(-1), pa.float32()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })


def generate(
    scale: float, seed: int, only: tuple[str, ...] = TABLES
) -> dict[str, pa.Table]:
    """The tables named in ``only`` as Arrow tables. Each table has its
    own random stream, so a table's rows depend on ``(scale, seed)``
    alone, not on which other tables are generated with it."""
    n = table_rows(scale)
    return {
        name: _build(name, np.random.default_rng([seed, TABLES.index(name)]), n)
        for name in only
    }


def stage(
    dest: str, scale: float, seed: int, only: tuple[str, ...] = TABLES
) -> dict[str, str]:
    """Write the tables to ``dest/<name>.parquet``; returns the paths."""
    os.makedirs(dest, exist_ok=True)
    paths = {}
    for name, tbl in generate(scale, seed, only).items():
        paths[name] = os.path.join(dest, f"{name}.parquet")
        pq.write_table(tbl, paths[name])
    return paths


def order_batch(
    rng: np.random.Generator, keys: np.ndarray, custkeys: int
) -> pa.Table:
    """A batch of ``orders`` rows with the given keys (write workload)."""
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, custkeys, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n), pa.string()),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days_to_ts(rng.integers(0, _ORDER_DAYS + 1, n)),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n), pa.string()),
    })

