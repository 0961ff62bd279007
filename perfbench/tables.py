"""Seeded generator for the analytics table set the headline queries read.

The tables have the schemas and value distributions of the engine's
``sf`` table sets (TPC-H-like star schema plus ``events``, ``documents``
and ``embeddings``): the same columns and types, uniform keys, a
30-word document vocabulary with planted near-duplicates ending in
``dup``, and unit-length 64-dimension embeddings. Every value is a
function of the seed, so one seed always gives the same files.

Row counts are those of the ``sf0.01`` tier (500 documents), except
that ``embeddings`` has the 2,000 vectors of ``sf0.1``. More documents
do not fit a run: the DuckDB twin of ``simhash_near_dups``, which a run
may have to check, takes 9 s at 500 documents, 39 s at 2,000 and 92 s
at 5,000 on four cores (perfbench/README.md).
"""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO", "STANDARD"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 2000,
}
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

_DAY0 = dt.datetime(1995, 1, 1)
_EVENT0 = dt.datetime(2024, 1, 1)


def _days(rng, n, lo, hi):
    days = rng.integers(lo, hi, n)
    return pa.array(
        np.datetime64(_DAY0, "us") + days.astype("timedelta64[D]").astype("timedelta64[us]")
    )


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(seed: int, sizes: dict[str, int] | None = None) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` as Arrow tables."""
    n = {**SIZES, **(sizes or {})}
    rng = np.random.default_rng(seed)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, 0, 2405),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, nl, 1, 2499),
    })
    ne = n["events"]
    # whole seconds: the sessionize_events builder compares gaps in
    # whole seconds and its DuckDB twin compares exact intervals, so a
    # gap of 1800.x seconds would make them disagree
    offsets = np.sort(rng.integers(0, 30 * 86400, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64(_EVENT0, "us") + offsets.astype("timedelta64[s]")),
        "user_id": rng.integers(0, max(1, ne // 66), ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng, nd: int) -> pa.Table:
    texts: list[str] = []
    n_base = nd - nd // 20
    for i in range(nd):
        if i < n_base:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 100))))
        else:
            # planted near-duplicate: a base document with one to two
            # trailing words swapped for "dup"
            words = texts[int(rng.integers(0, n_base))].split()
            k = int(rng.integers(1, 3))
            words = words[: max(1, len(words) - k)] + ["dup"] * k
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng, nv: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((nv, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })


def write(tables: dict[str, pa.Table], out_dir: Path) -> str:
    """One single-row-group parquet file per table, laid out like an
    ``sf`` directory (``<out_dir>/<table>.parquet``)."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, out_dir / f"{name}.parquet", row_group_size=len(tbl) or 1)
    return str(out_dir)
