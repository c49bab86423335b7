"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the program's catalog reads
(``sources.tables.TABLES``), one parquet file each, with the same
column names, types and value ranges as the repository's synthetic
TPC-H-style test data: orders and lineitem dated 1995-2001, one month
of events in 2024-01, word-salad documents over a 31-word vocabulary,
and unit-norm 64-d embeddings. The same seed always gives the same
bytes of data; the program only ever sees the files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at scale 1.0 (TPC-H proportions); documents and
#: embeddings have fixed floors so the ANN index and the dedup
#: operators always have a corpus to work on.
_BASE_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "users": 15_000,
}
_MIN_DOCS = 500
_MIN_VECS = 500
_NEAR_DUP_SHARE = 0.15

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64

_US_PER_DAY = 86_400 * 1_000_000


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    lo, hi = _day_us(first), _day_us(last)
    days = rng.integers(0, (hi - lo) // _US_PER_DAY + 1, n)
    return lo + days * _US_PER_DAY


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """All ten tables for ``seed`` at ``scale`` (1.0 = TPC-H sf1)."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * scale)) for k, v in _BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(_dates(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })

    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _ts(_dates(rng, "1995-01-02", "2001-11-04", nl)),
    })

    ne = n["events"]
    month_us = 30 * _US_PER_DAY
    ts = _day_us("2024-01-01") + np.sort(rng.integers(0, month_us, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    nd = max(_MIN_DOCS, int(50_000 * scale))
    words = [list(rng.choice(WORDS, int(k))) for k in rng.integers(8, 91, nd)]
    # plant near-duplicates: a share of documents copy an earlier one
    # with a few words replaced, so the dedup operators find pairs
    for i in np.flatnonzero(rng.random(nd) < _NEAR_DUP_SHARE):
        if i == 0:
            continue
        copy = list(words[int(rng.integers(0, i))])
        for w in rng.integers(0, len(copy), max(1, len(copy) // 20)):
            copy[int(w)] = str(rng.choice(WORDS))
        words[i] = copy
    texts = [" ".join(w) for w in words]
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    nv = max(_MIN_VECS, int(20_000 * scale))
    vecs = rng.standard_normal((nv, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return out


def generate(out_dir: str, seed: int, scale: float) -> str:
    """Write every table to ``out_dir/<name>.parquet``; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
