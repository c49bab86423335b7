#!/usr/bin/env python
"""Materialize a SKEWED sf1-scale dataset (r9, VERDICT r8 #4) into
<checkout>/.tmp/sf1_skewed.

The flat sf1/sf10 builds (tools_make_sf1.py) replicate sf0.1 with
disjoint key ranges — every key keeps sf0.1's frequency, so AQE's
skew machinery never engages and the scale evidence only covers the
uniform regime. Real crawls are Zipfian: one mega-customer, a bot
user, boilerplate hub documents. This build injects exactly those,
DETERMINISTICALLY (modular rules, no randomness), on top of the same
10x key-shifted replication:

- orders: 20% of ALL orders (o_orderkey % 5 == 0) are re-pointed at
  ONE mega-customer (replica-0 key HOT_CUST) — stresses the
  orders⋈customer join and every per-customer groupBy (q13, q18).
- lineitem: 10% (l_orderkey % 10 == 3) re-pointed at one hot
  supplier, a different 10% (l_orderkey % 10 == 7) at one hot part —
  the sort-merge joins on suppkey/partkey get one fat partition,
  which is precisely what AQE skew-join splitting exists for.
- events: ~14% (event_id % 7 == 0) become one bot user's events —
  stresses sessionization and per-user windows with a single giant
  group.
- documents: 5% (doc_id % 20 == 7) are replaced by their replica's
  ciphered copy of one HUB document — boilerplate dup groups of
  ~250 identical texts per replica, the shape that blows up an
  uncapped dedup bucket (the max-bucket quarantine is the designed
  response; this build proves it engages instead of exploding).
- embeddings: 2% (vec_id % 50 == 9) carry one hub vector exactly —
  degenerate ANN ties + an oversized SemDeDup cell.

FK validity is preserved: hot keys are real replica-0 dimension keys,
and non-hot rows keep the within-replica shifted FKs.

DuckDB does the rewrite. Run: python tools_make_sf1_skewed.py [out]
Then: python tools_bench_sf1_skewed.py
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OUT = (
    sys.argv[1]
    if len(sys.argv) > 1
    else os.path.join(os.path.dirname(os.path.abspath(__file__)), ".tmp", "sf1_skewed")
)
REPLICAS = 10

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

HOT_CUST = 7       # replica-0 customer: the mega-buyer
HOT_SUPP = 13      # replica-0 supplier: everyone ships through them
HOT_PART = 19      # replica-0 part: the commodity SKU
HOT_USER = 42      # the bot account
HUB_DOC = 11       # per-replica boilerplate template
HUB_VEC = 3        # the hub embedding

ALPHA = "abcdefghijklmnopqrstuvwxyz"


def rot(i: int) -> tuple[str, str]:
    k = (i * 7) % 26
    return ALPHA + ALPHA.upper(), ALPHA[k:] + ALPHA[:k] + (
        ALPHA[k:] + ALPHA[:k]
    ).upper()


def main() -> None:
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()

    # hot keys must exist in the source dimensions (FK validity)
    for table, col, key in [
        ("customer", "c_custkey", HOT_CUST),
        ("supplier", "s_suppkey", HOT_SUPP),
        ("part", "p_partkey", HOT_PART),
        ("documents", "doc_id", HUB_DOC),
        ("embeddings", "vec_id", HUB_VEC),
    ]:
        n = con.execute(
            f"SELECT COUNT(*) FROM '{SRC}/{table}.parquet' WHERE {col} = {key}"
        ).fetchone()[0]
        assert n == 1, f"hot key {table}.{col}={key} missing in source"

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
        # 20% of orders globally point at the replica-0 mega-customer
        "orders": (
            "SELECT o_orderkey + {i} * {order} AS o_orderkey, "
            f"CASE WHEN o_orderkey % 5 = 0 THEN {HOT_CUST} "
            "ELSE o_custkey + {i} * {cust} END AS o_custkey, "
            "o_orderstatus, o_totalprice, o_orderdate, "
            "o_orderpriority FROM t"
        ),
        # 10% hot supplier, disjoint 10% hot part
        "lineitem": (
            "SELECT l_orderkey + {i} * {order} AS l_orderkey, "
            f"CASE WHEN l_orderkey % 10 = 7 THEN {HOT_PART} "
            "ELSE l_partkey + {i} * {part} END AS l_partkey, "
            f"CASE WHEN l_orderkey % 10 = 3 THEN {HOT_SUPP} "
            "ELSE l_suppkey + {i} * {supp} END AS l_suppkey, "
            "l_linenumber, l_quantity, l_extendedprice, l_discount, "
            "l_tax, l_returnflag, l_linestatus, l_shipdate FROM t"
        ),
        # one bot user owns every 7th event
        "events": (
            "SELECT event_id + {i} * {event} AS event_id, ts, "
            f"CASE WHEN event_id % 7 = 0 THEN {HOT_USER} "
            "ELSE user_id + {i} * {user} END AS user_id, "
            "event_type, value, props FROM t"
        ),
        # every 20th doc becomes its replica's ciphered HUB text
        # (boilerplate dup groups; n_chars kept truthful)
        "documents": (
            "SELECT doc_id + {i} * {doc} AS doc_id, "
            "CASE WHEN doc_id % 20 = 7 THEN "
            f"(SELECT translate(text, '{{src_a}}', '{{dst_a}}') "
            f" FROM t h WHERE h.doc_id = {HUB_DOC}) "
            "ELSE translate(text, '{src_a}', '{dst_a}') END AS text, "
            "lang, source, "
            "CASE WHEN doc_id % 20 = 7 THEN "
            f"(SELECT n_chars FROM t h WHERE h.doc_id = {HUB_DOC}) "
            "ELSE n_chars END AS n_chars FROM t"
        ),
        # every 50th vector carries the hub embedding exactly
        "embeddings": (
            "SELECT vec_id + {i} * {vec} AS vec_id, "
            "CASE WHEN vec_id % 50 = 9 THEN "
            f"(SELECT CAST(list_transform(embedding, x -> x + {{i}} * 0.001) AS FLOAT[]) "
            f" FROM t h WHERE h.vec_id = {HUB_VEC}) "
            "ELSE CAST(list_transform(embedding, x -> x + {i} * 0.001) "
            "AS FLOAT[]) END AS embedding, label FROM t"
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

    # skew audit: top-key shares, so the artifact records how hot
    # the build actually is
    audit = {}
    for table, col in [
        ("orders", "o_custkey"),
        ("lineitem", "l_suppkey"),
        ("lineitem", "l_partkey"),
        ("events", "user_id"),
        ("documents", "text"),
        ("embeddings", "embedding"),
    ]:
        row = con.execute(
            f"SELECT MAX(cnt), SUM(cnt) FROM ("
            f"SELECT COUNT(*) AS cnt FROM '{OUT}/{table}.parquet' "
            f"GROUP BY {col})"
        ).fetchone()
        audit[f"{table}.{col}"] = {
            "hot_rows": row[0],
            "total": row[1],
            "hot_share": round(row[0] / row[1], 4),
        }
    import json

    print(json.dumps(audit, indent=1))


if __name__ == "__main__":
    main()
