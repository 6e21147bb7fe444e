"""Synthetic copies of the engine's analytic tables for the query_mix
workload.

The registered queries read ten parquet tables (TPC-H-like star schema
plus `events`, `documents` and `embeddings`).  The benchmark may read
only its own checkout, so it builds tables with the same schemas, value
domains and row counts (sf0.1: 600k lineitem rows) from a fixed seed.
They are built once per checkout into the build directory and reused;
the workload seed varies the query sequence and the CDC stream, not the
database.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_SEED = 42
# rows per table at sf=1; counts scale linearly, dimension tables do not
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
_EMBED_DIM = 64


def _ts(days_from: str, n: int, span_days: float, rng) -> pa.Array:
    base = np.datetime64(days_from, "us").astype(np.int64)
    off = (rng.random(n) * span_days * 86_400e6).astype(np.int64)
    return pa.array(base + off, pa.timestamp("us"))


def _day(days_from: str, n: int, span_days: int, rng) -> pa.Array:
    base = np.datetime64(days_from, "us").astype(np.int64)
    off = rng.integers(0, span_days, n).astype(np.int64) * 86_400_000_000
    return pa.array(base + off, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float, seed: int = TABLES_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * sf)) for k, v in _ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc)),
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(rng.choice(names, npart)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _day("1995-01-01", no, 2404, rng),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, no)),
    })
    # 1..7 lines per order, ~4 on average, as in the TPC-H shape
    per = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), per)
    nl = len(okey)
    start = np.cumsum(per) - per
    linenum = np.arange(nl) - np.repeat(start, per) + 1
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _day("1995-01-02", nl, 2498, rng),
    })
    ne = n["events"]
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(
            np.sort(_ts("2024-01-01", ne, 30.0, rng).to_numpy(zero_copy_only=False)),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, max(150, nc // 10), ne), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, ne)),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    words = rng.choice(_WORDS, int(lens.sum()))
    cuts = np.cumsum(lens)
    texts = [" ".join(words[c - ln:c]) for c, ln in zip(cuts, lens)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(_LANGS, nd)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = n["embeddings"]
    vec = rng.normal(size=(nv, _EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return out


def ensure_tables(root: str, sf: float) -> str:
    """Return a directory holding every table at scale `sf`, building it
    on first use.  The directory is published by rename, so a run that
    dies mid-build never leaves a partial table set behind."""
    final = os.path.join(root, f"tables-sf{sf}-seed{TABLES_SEED}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in build_tables(sf).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, final)
    return final
