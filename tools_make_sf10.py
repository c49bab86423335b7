#!/usr/bin/env python
"""Materialize an sf10-scale dataset as a 100x key-shifted
replication of the sf0.1 dataset (``SRC``) into <checkout>/.tmp/sf10 —
the second measured decade above sf0.1 (r8, VERDICT r7 #3).

Same doctrine as tools_make_sf1.py (FK-preserving per-replica key
shifts; region/nation fixed), with the two replica-identity
mechanisms upgraded because 100 replicas exceed what the sf1 tool's
26-rotation cipher and constant embedding offsets can keep distinct:

- text: per-replica AFFINE letter substitution j -> (a*j + b) mod 26
  with a coprime to 26 — 12 x 26 = 312 distinct maps, so all 100
  replicas produce disjoint token vocabularies (no cross-replica
  text near-dups; within-replica dup structure preserved exactly).
  Replicas 0..25 use a=1, i.e. the sf1 tool's rotations — replica 0
  is the identity.
- embeddings: per-replica offset along an md5-derived ±1 sign
  pattern (magnitude EMB_OFFSET per dim). Unlike sf1's constant
  +i*0.001 (which leaves same-base replicas at cos ≈ 0.997-0.9999,
  documented there as the recall caveat), random sign patterns
  differ in ~32 of 64 dims between any two replicas, separating
  same-base vectors by ~2*0.03*sqrt(32) ≈ 0.34 in L2 — cos < 0.99
  with margin (measured max cross-replica cos 0.979 at 3 replicas),
  so the semantic-dup threshold no longer glues replicas together.
  The build ASSERTS this separation on a sample before writing.

DuckDB does the rewrite (no Spark session needed).
Run: python tools_make_sf10.py [out_dir] [replicas]
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OUT = (
    sys.argv[1]
    if len(sys.argv) > 1
    else os.path.join(os.path.dirname(os.path.abspath(__file__)), ".tmp", "sf10")
)
REPLICAS = int(sys.argv[2]) if len(sys.argv) > 2 else 100

# key shifts: one stride per keyed table, above the sf0.1 max key so
# replica id ranges never collide (checked below)
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
COPRIMES = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
EMB_OFFSET = 0.03  # per-dim offset magnitude; see module docstring
EMB_DIM = 64


def affine(i: int) -> tuple[str, str]:
    """Length-preserving affine substitution cipher for replica i
    (identity for replica 0; pure rotation — the sf1 tool's rot() —
    for i < 26)."""
    a = COPRIMES[(i // 26) % len(COPRIMES)]
    b = (i * 7) % 26
    dst = "".join(ALPHA[(a * j + b) % 26] for j in range(26))
    return ALPHA + ALPHA.upper(), dst + dst.upper()


def sign_pattern(i: int) -> list[int]:
    """±1 per dim from md5(i, d) — deterministic, engine-free."""
    import hashlib

    return [
        1 if hashlib.md5(f"{i}-{d}".encode()).digest()[0] % 2 else -1
        for d in range(EMB_DIM)
    ]


def _check_embedding_separation() -> None:
    """Same-base vectors from any two replicas must sit below the
    semantic-dup threshold (cos < 0.99): min pairwise separation of
    the offset patterns bounds it for unit base vectors."""
    import math

    pats = [sign_pattern(i) for i in range(REPLICAS)]
    worst = 1.0
    for i in range(REPLICAS):
        for j in range(i + 1, REPLICAS):
            d2 = sum(
                (EMB_OFFSET * (pats[i][k] - pats[j][k])) ** 2
                for k in range(EMB_DIM)
            )
            # unit base vector + offsets: cos >= 1 - |delta|^2/2 is
            # the small-angle bound; require the bound itself < 0.99
            worst = min(worst, d2)
    cos_bound = 1 - worst / 2
    if cos_bound >= 0.98:
        raise SystemExit(
            f"replica offset patterns too close: cos bound {cos_bound:.4f}"
        )
    print(f"embedding separation ok: worst cos bound {cos_bound:.4f}")


def _check_shifts(con) -> None:
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
        if mx is not None and mx >= SHIFTS[shift]:
            raise SystemExit(
                f"{table}.{col} max={mx} >= shift {SHIFTS[shift]}"
            )


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()
    _check_shifts(con)
    _check_embedding_separation()
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
            "CAST(list_transform(embedding, (x, d) -> "
            "x + {offs}[d]) AS FLOAT[]) AS embedding, label FROM t"
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
                src_a, dst_a = affine(i)
                offs = (
                    "["
                    + ", ".join(
                        f"{EMB_OFFSET * s if i else 0.0:.6f}"
                        for s in sign_pattern(i)
                    )
                    + "]"
                )
                parts.append(
                    tmpl.format(
                        i=i, src_a=src_a, dst_a=dst_a, offs=offs, **SHIFTS
                    )
                )
        union = "\nUNION ALL\n".join(parts)
        dest = f"{OUT}/{table}.parquet"
        con.execute(f"COPY ({union}) TO '{dest}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT COUNT(*) FROM '{dest}'").fetchone()[0]
        print(f"{table}: {n} rows -> {dest}", flush=True)


if __name__ == "__main__":
    main()
