#!/usr/bin/env python
"""Materialize an sf1.0-scale dataset as a 10x key-shifted
replication of the sf0.1 dataset (``SRC``) into <checkout>/.tmp/sf1.

The driver ships sf{0.001,0.01,0.1} only; the 100-TB doctrine needs
at least one measured point an order of magnitude above sf0.1, so we
scale the shipped data rather than synthesizing a new distribution:

- fact/dim tables replicate 10x with per-replica key shifts chosen
  so every FK relationship stays intact WITHIN a replica (orders.i
  joins customer.i, lineitem.i joins orders.i/part.i/supplier.i) —
  join selectivity and group cardinalities scale the way a real sf1
  would.
- region/nation stay fixed (TPC-H semantics: their cardinality does
  not scale with SF).
- documents get a per-replica consonant-rotation cipher on text
  (length-preserving, so n_chars stays true) — within-replica
  dup/near-dup structure is preserved, but replicas are NOT
  near-dups of each other; naive copying would make every doc a
  10-way exact dup and blow candidate-pair counts quadratically
  past what a true sf1 corpus has.
- embeddings get a tiny per-replica offset for the same reason
  (identical vectors would make every ANN list degenerate ties).

DuckDB does the rewrite (no Spark session needed).
Run: python tools_make_sf1.py [out_dir]
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OUT = (
    sys.argv[1]
    if len(sys.argv) > 1
    else os.path.join(os.path.dirname(os.path.abspath(__file__)), ".tmp", "sf1")
)
REPLICAS = 10

# key shifts: one power-of-10 stride per keyed table, far above the
# sf0.1 max key so replica id ranges never collide
SHIFTS = {
    "cust": 1_000_000,
    "supp": 1_000_000,
    "part": 1_000_000,
    "order": 10_000_000,
    "event": 10_000_000,
    "user": 1_000_000,
    "doc": 1_000_000,
    "vec": 1_000_000,
}

ALPHA = "abcdefghijklmnopqrstuvwxyz"


def rot(i: int) -> tuple[str, str]:
    """Length-preserving substitution cipher for replica i (identity
    for replica 0)."""
    k = (i * 7) % 26
    return ALPHA + ALPHA.upper(), ALPHA[k:] + ALPHA[:k] + (
        ALPHA[k:] + ALPHA[:k]
    ).upper()


def _check_shifts(con) -> None:
    """Replica key ranges must not overlap: a source key >= its
    shift stride would silently collide across replicas (breaking
    the uniqueness the correctness sweeps rely on). The driver
    regenerates testdata between rounds, so guard every build."""
    checks = [
        ("customer", "c_custkey", "cust"),
        ("supplier", "s_suppkey", "supp"),
        ("part", "p_partkey", "part"),
        ("orders", "o_orderkey", "order"),
        ("events", "event_id", "event"),
        ("events", "user_id", "user"),
        ("documents", "doc_id", "doc"),
        ("embeddings", "vec_id", "vec"),
    ]
    for table, col, shift in checks:
        mx = con.execute(
            f"SELECT MAX({col}) FROM read_parquet('{SRC}/{table}.parquet')"
        ).fetchone()[0]
        need = REPLICAS and mx is not None and mx >= SHIFTS[shift]
        if need:
            raise SystemExit(
                f"{table}.{col} max={mx} >= shift {SHIFTS[shift]}: "
                "replica ids would collide — raise SHIFTS"
            )


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    _check_shifts(con)
    copies = {
        "region": "SELECT * FROM t",
        "nation": "SELECT * FROM t",
        "customer": (
            "SELECT c_custkey + {i} * {cust} AS c_custkey, c_name, "
            "c_nationkey, c_acctbal, c_mktsegment FROM t"
        ),
        "supplier": (
            "SELECT s_suppkey + {i} * {supp} AS s_suppkey, s_name, "
            "s_nationkey, s_acctbal FROM t"
        ),
        "part": (
            "SELECT p_partkey + {i} * {part} AS p_partkey, p_name, "
            "p_brand, p_type, p_size, p_retailprice FROM t"
        ),
        "orders": (
            "SELECT o_orderkey + {i} * {order} AS o_orderkey, "
            "o_custkey + {i} * {cust} AS o_custkey, o_orderstatus, "
            "o_totalprice, o_orderdate, o_orderpriority FROM t"
        ),
        "lineitem": (
            "SELECT l_orderkey + {i} * {order} AS l_orderkey, "
            "l_partkey + {i} * {part} AS l_partkey, "
            "l_suppkey + {i} * {supp} AS l_suppkey, l_linenumber, "
            "l_quantity, l_extendedprice, l_discount, l_tax, "
            "l_returnflag, l_linestatus, l_shipdate FROM t"
        ),
        "events": (
            "SELECT event_id + {i} * {event} AS event_id, ts, "
            "user_id + {i} * {user} AS user_id, event_type, value, "
            "props FROM t"
        ),
        "documents": (
            "SELECT doc_id + {i} * {doc} AS doc_id, "
            "translate(text, '{src_a}', '{dst_a}') AS text, lang, "
            "source, n_chars FROM t"
        ),
        "embeddings": (
            "SELECT vec_id + {i} * {vec} AS vec_id, "
            "CAST(list_transform(embedding, x -> x + {i} * 0.001) "
            "AS FLOAT[]) AS embedding, label FROM t"
        ),
    }
    for table, tmpl in copies.items():
        src = f"{SRC}/{table}.parquet"
        con.execute(
            f"CREATE OR REPLACE VIEW t AS SELECT * FROM read_parquet('{src}')"
        )
        if tmpl == "SELECT * FROM t":
            parts = [tmpl]
        else:
            parts = []
            for i in range(REPLICAS):
                src_a, dst_a = rot(i)
                parts.append(
                    tmpl.format(i=i, src_a=src_a, dst_a=dst_a, **SHIFTS)
                )
        union = "\nUNION ALL\n".join(parts)
        dest = f"{OUT}/{table}.parquet"
        con.execute(f"COPY ({union}) TO '{dest}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT COUNT(*) FROM '{dest}'").fetchone()[0]
        print(f"{table}: {n} rows -> {dest}")


if __name__ == "__main__":
    main()
