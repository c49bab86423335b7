#!/usr/bin/env python
"""Materialize a scale build of the sf0.1 dataset (``SRC``) into
<checkout>/.tmp/<build>: a key-shifted replication, so join
selectivity and group cardinalities scale the way a real larger
scale factor would, without synthesizing a new distribution.

  sf1         10 replicas
  sf10        100 replicas
  sf1_skewed  10 replicas plus Zipfian hot keys (``SKEW``)

- keyed tables replicate with one key shift per replica, so every FK
  stays intact WITHIN a replica and replica key ranges never collide
  (``_check_shifts`` guards every build).
- region/nation stay fixed (TPC-H: their cardinality does not scale).
- document text gets a per-replica affine letter substitution
  j -> (a*j + b) mod 26, a coprime to 26: length-preserving (n_chars
  stays true), identity for replica 0, a pure rotation for replicas
  below 26, and 312 distinct maps in all. Within-replica dup structure
  is kept; replicas are NOT near-dups of each other (naive copying
  would make every doc an N-way exact dup).
- embeddings get a per-replica offset vector. sf1 adds the constant
  i*0.001 (same-base replicas stay near-copies at cos 0.997-0.9999,
  the sf1 recall caveat); sf10 adds an md5-derived ±EMB_OFFSET sign
  pattern, which keeps same-base vectors of any two replicas below
  the semantic-dup threshold (checked before writing).
- sf1_skewed re-points deterministic slices at hot keys (modular
  rules, no randomness): 20% of orders at one mega-customer, 10% of
  lineitems at one supplier and another 10% at one part, ~14% of
  events at one bot user, every 20th document at its replica's
  ciphered hub text (~250-copy boilerplate groups) and every 50th
  vector at the hub embedding. Hot keys are real source keys, so FKs
  stay valid; the build prints each hot key's share.

DuckDB does the rewrite (no Spark session needed).
Run: python tools_make_scale.py <sf1|sf10|sf1_skewed> [out_dir]
Then: python tools_bench_scale.py <build>
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from collections.abc import Callable
from typing import NamedTuple

import duckdb

SRC = "/root/testdata/sf0.1"

# key shifts: one stride per keyed table, above the sf0.1 max key so
# replica id ranges never collide (checked by _check_shifts)
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
SHIFTED = [
    ("customer", "c_custkey", "cust"),
    ("supplier", "s_suppkey", "supp"),
    ("part", "p_partkey", "part"),
    ("orders", "o_orderkey", "order"),
    ("events", "event_id", "event"),
    ("events", "user_id", "user"),
    ("documents", "doc_id", "doc"),
    ("embeddings", "vec_id", "vec"),
]

ALPHA = "abcdefghijklmnopqrstuvwxyz"
COPRIMES = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
EMB_DIM = 64
EMB_OFFSET = 0.03  # sf10 per-dim offset magnitude

# a replica's embedding offsets ride a one-row join: a list literal
# inside the lambda is rebuilt for every element (sf10 from sf0.1:
# 4m07s that way, 53s with the join, same bytes)
OFFS = "(SELECT {offs} AS offs) o"

# per table, the columns each replica rewrites ({i} replica index,
# {src_a}/{dst_a} its cipher, o.offs its embedding offsets); tables not
# listed (region, nation) are copied once
REPLICATED = {
    "customer": {"c_custkey": "c_custkey + {i} * {cust}"},
    "supplier": {"s_suppkey": "s_suppkey + {i} * {supp}"},
    "part": {"p_partkey": "p_partkey + {i} * {part}"},
    "orders": {
        "o_orderkey": "o_orderkey + {i} * {order}",
        "o_custkey": "o_custkey + {i} * {cust}",
    },
    "lineitem": {
        "l_orderkey": "l_orderkey + {i} * {order}",
        "l_partkey": "l_partkey + {i} * {part}",
        "l_suppkey": "l_suppkey + {i} * {supp}",
    },
    "events": {
        "event_id": "event_id + {i} * {event}",
        "user_id": "user_id + {i} * {user}",
    },
    "documents": {
        "doc_id": "doc_id + {i} * {doc}",
        "text": "translate(text, '{src_a}', '{dst_a}')",
    },
    "embeddings": {
        "vec_id": "vec_id + {i} * {vec}",
        "embedding": (
            "CAST(list_transform(embedding, (x, d) -> x + o.offs[d]) "
            "AS FLOAT[])"
        ),
    },
}

# the planted hot keys: name -> (table, column, key). A key beyond a
# small source's key range wraps into it (key % (max + 1)), so every
# source scale has them; sf0.1 keeps the keys as written.
HOT = {
    "hot_cust": ("customer", "c_custkey", 7),    # the mega-buyer
    "hot_supp": ("supplier", "s_suppkey", 13),   # everyone ships through
    "hot_part": ("part", "p_partkey", 19),       # the commodity SKU
    "hot_user": ("events", "user_id", 42),       # the bot account
    "hub_doc": ("documents", "doc_id", 11),      # boilerplate template
    "hub_vec": ("embeddings", "vec_id", 3),      # the hub embedding
}


def _hub(key_col: str, hub: str) -> str:
    """The hub row's value under the same replica rewrite."""
    return (
        f"(SELECT {{base}} FROM t h, {OFFS} "
        f"WHERE h.{key_col} = {{{hub}}})"
    )


# the skew overlay: column -> (condition on the source row, hot value);
# the column becomes CASE WHEN condition THEN hot ELSE its rewrite END
SKEW = {
    "orders": {"o_custkey": ("o_orderkey % 5 = 0", "{hot_cust}")},
    "lineitem": {
        "l_partkey": ("l_orderkey % 10 = 7", "{hot_part}"),
        "l_suppkey": ("l_orderkey % 10 = 3", "{hot_supp}"),
    },
    "events": {"user_id": ("event_id % 7 = 0", "{hot_user}")},
    "documents": {
        "text": ("doc_id % 20 = 7", _hub("doc_id", "hub_doc")),
        "n_chars": ("doc_id % 20 = 7", _hub("doc_id", "hub_doc")),
    },
    "embeddings": {
        "embedding": ("vec_id % 50 = 9", _hub("vec_id", "hub_vec")),
    },
}


def cipher(i: int) -> tuple[str, str]:
    """Length-preserving affine substitution for replica i (identity
    for replica 0, a rotation by 7i for i < 26)."""
    a = COPRIMES[(i // 26) % len(COPRIMES)]
    b = (i * 7) % 26
    dst = "".join(ALPHA[(a * j + b) % 26] for j in range(26))
    return ALPHA + ALPHA.upper(), dst + dst.upper()


def sign_pattern(i: int) -> list[int]:
    """±1 per dim from md5(i, d) — deterministic, engine-free."""
    return [
        1 if hashlib.md5(f"{i}-{d}".encode()).digest()[0] % 2 else -1
        for d in range(EMB_DIM)
    ]


def constant_offsets(i: int) -> list[float]:
    return [i * 0.001] * EMB_DIM


def sign_offsets(i: int) -> list[float]:
    return [EMB_OFFSET * s if i else 0.0 for s in sign_pattern(i)]


class Build(NamedTuple):
    replicas: int
    offsets: Callable[[int], list[float]]  # replica -> per-dim offsets
    separated: bool  # replicas' embeddings must not be near-dups
    overlay: dict


BUILDS = {
    "sf1": Build(10, constant_offsets, False, {}),
    "sf10": Build(100, sign_offsets, True, {}),
    "sf1_skewed": Build(10, constant_offsets, False, SKEW),
}


def _check_shifts(con, src: str) -> None:
    """A source key >= its shift stride would silently collide across
    replicas, breaking the key uniqueness the correctness sweeps rely
    on. Testdata is regenerated between rounds, so guard every build."""
    for table, col, shift in SHIFTED:
        mx = con.execute(
            f"SELECT MAX({col}) FROM read_parquet('{src}/{table}.parquet')"
        ).fetchone()[0]
        if mx is not None and mx >= SHIFTS[shift]:
            raise SystemExit(
                f"{table}.{col} max={mx} >= shift {SHIFTS[shift]}: "
                "replica ids would collide — raise SHIFTS"
            )


def _check_separation(offsets, replicas: int) -> None:
    """Same-base vectors of any two replicas must sit below the
    semantic-dup threshold (cos < 0.99): for unit base vectors the
    small-angle bound cos >= 1 - |delta|^2/2 over the closest pair of
    offset vectors bounds it; require that bound < 0.98."""
    offs = [offsets(i) for i in range(replicas)]
    worst = min(
        (sum((a - b) ** 2 for a, b in zip(offs[i], offs[j])) for i in
         range(replicas) for j in range(i + 1, replicas)),
        default=2.0,
    )
    cos_bound = 1 - worst / 2
    if cos_bound >= 0.98:
        raise SystemExit(
            f"replica offset patterns too close: cos bound {cos_bound:.4f}"
        )
    print(f"embedding separation ok: worst cos bound {cos_bound:.4f}")


def _hot_keys(con, src: str) -> dict[str, int]:
    keys = {}
    for name, (table, col, key) in HOT.items():
        path = f"{src}/{table}.parquet"
        mx = con.execute(f"SELECT MAX({col}) FROM '{path}'").fetchone()[0]
        keys[name] = key if mx is None else key % (mx + 1)
        n = con.execute(
            f"SELECT COUNT(*) FROM '{path}' WHERE {col} = {keys[name]}"
        ).fetchone()[0]
        if n == 0:
            raise SystemExit(f"hot key {table}.{col}={keys[name]} missing")
    return keys


def _select(table: str, overlay: dict) -> str:
    cols = dict(REPLICATED[table])
    for col, (cond, hot) in overlay.get(table, {}).items():
        base = cols.get(col, col)
        cols[col] = (
            f"CASE WHEN {cond} THEN {hot.replace('{base}', base)} "
            f"ELSE {base} END"
        )
    exprs = ", ".join(f"{e} AS {c}" for c, e in cols.items())
    return f"SELECT t.* REPLACE ({exprs}) FROM t, {OFFS}"


def _audit(con, out: str) -> dict:
    """Top-key shares, so the build records how hot it really is."""
    audit = {}
    for table, col in [
        ("orders", "o_custkey"),
        ("lineitem", "l_suppkey"),
        ("lineitem", "l_partkey"),
        ("events", "user_id"),
        ("documents", "text"),
        ("embeddings", "embedding"),
    ]:
        hot, total = con.execute(
            f"SELECT MAX(cnt), SUM(cnt) FROM (SELECT COUNT(*) AS cnt "
            f"FROM '{out}/{table}.parquet' GROUP BY {col})"
        ).fetchone()
        audit[f"{table}.{col}"] = {
            "hot_rows": hot,
            "total": total,
            "hot_share": round(hot / total, 4),
        }
    return audit


def build(name: str, src: str, out: str, replicas: int) -> None:
    spec = BUILDS[name]
    os.makedirs(out, exist_ok=True)
    # the order-preserving COPY otherwise buffers up to DuckDB's default
    # of 80% of RAM (sf10: 12 GB peak RSS on a 16 GB host; 2.1 GB with
    # this limit, same bytes)
    con = duckdb.connect(config={"memory_limit": "2GB"})
    _check_shifts(con, src)
    hot = _hot_keys(con, src) if spec.overlay else {}
    if spec.separated:
        _check_separation(spec.offsets, replicas)
    for table in ["region", "nation", *REPLICATED]:
        con.execute(
            f"CREATE OR REPLACE VIEW t AS SELECT * FROM "
            f"read_parquet('{src}/{table}.parquet')"
        )
        if table in REPLICATED:
            tmpl = _select(table, spec.overlay)
            parts = []
            for i in range(replicas):
                src_a, dst_a = cipher(i)
                offs = "[" + ", ".join(
                    f"{o:.6f}" for o in spec.offsets(i)) + "]"
                parts.append(tmpl.format(
                    i=i, src_a=src_a, dst_a=dst_a, offs=offs,
                    **SHIFTS, **hot))
        else:
            parts = ["SELECT * FROM t"]
        union = "\nUNION ALL\n".join(parts)
        dest = f"{out}/{table}.parquet"
        con.execute(f"COPY ({union}) TO '{dest}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT COUNT(*) FROM '{dest}'").fetchone()[0]
        print(f"{table}: {n} rows -> {dest}", flush=True)
    if spec.overlay:
        print(json.dumps(_audit(con, out), indent=1))


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in BUILDS:
        sys.exit(f"usage: tools_make_scale.py <{'|'.join(BUILDS)}> [out_dir]")
    name = sys.argv[1]
    out = (
        sys.argv[2]
        if len(sys.argv) > 2
        else os.path.join(os.path.dirname(os.path.abspath(__file__)), ".tmp", name)
    )
    build(name, SRC, out, BUILDS[name].replicas)


if __name__ == "__main__":
    main()
