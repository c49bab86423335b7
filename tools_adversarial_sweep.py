#!/usr/bin/env python
"""Round-7 adversarial-input program: build a hostile variant of the
testdata with DuckDB, run the FULL oracle-backed contract on it, and
report every divergence. Both engines see the same files, so any
mismatch is a semantics bug by construction (the r6 trick that found
q21 + 13 null bugs + 3 ANSI aborts).

New classes this round (r6 swept duplicates/nulls/unicode/skew/edge
values):

- ``empty_slices``: whole categories vanish — one event_type gone,
  one language gone, one order-quarter gone, one region childless.
  Group-by results must drop the group on BOTH engines, never emit
  a zero/null row for it; anti-join/NOT-IN shapes see categories
  with no match.
- ``empty_tables``: documents, events and embeddings are 0-row (but
  schema-complete). Every doc/event/embedding query must return its
  empty-input shape (0 rows, or the single global-agg row) — not
  crash, not hang a Python worker on an empty Arrow batch.
- ``far_dates``: event/order timestamps pushed to 1901-1909 and
  2250-2262 (near the int64-nanos horizon). Window arithmetic,
  sessionization, gap-fill, as-of joins and quarter bucketing must
  agree across engines at both extremes. (Watermarked STREAMING
  queries are excluded for the pre-epoch slice by documented
  contract — see streaming.events.drain's docstring.)
- ``extreme_numerics``: money columns near decimal boundaries
  (o_totalprice / l_extendedprice at 9.99e7-ish magnitudes, event
  values at ±99,999,999.99) so decimal(18,2) sums cross 1e12 —
  exact-cents contracts must hold, no ANSI overflow aborts, no
  double drift past the 6-dp compare.

Usage: python tools_adversarial_sweep.py CLASS [CLASS...]
(default: all). Prints one line per query; exits nonzero if any
query fails. Fix what breaks, then pin the sensitive subset as a
tests/test_*_robustness.py regression suite.
"""

from __future__ import annotations

import os
import shutil
import sys
import traceback

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import __spark_entry__ as entrymod  # noqa: E402
from etl_npl_pipeline_spark.session import get_spark  # noqa: E402
from tests.oracle import assert_matches_oracle  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_ADV_SRC", "/root/testdata/sf0.001")
TMP = os.path.join(HERE, ".tmp", "adversarial")

ALL_TABLES = ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"]


def _copy_rest(out: str, mutated: set[str]) -> None:
    for t in ALL_TABLES:
        if t not in mutated:
            shutil.copy(f"{SRC}/{t}.parquet", f"{out}/{t}.parquet")


def build_empty_slices(out: str) -> None:
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT * FROM read_parquet('{SRC}/events.parquet')
             WHERE event_type != 'click')
            TO '{out}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * FROM read_parquet('{SRC}/documents.parquet')
             WHERE lang != 'de')
            TO '{out}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * FROM read_parquet('{SRC}/orders.parquet')
             WHERE NOT (o_orderdate >= DATE '1996-01-01'
                        AND o_orderdate < DATE '1996-04-01'))
            TO '{out}/orders.parquet' (FORMAT PARQUET)"""
    )
    # lineitem keeps rows whose order vanished → FK-dangling facts,
    # the anti-join / NOT-IN stressor
    _copy_rest(out, {"events", "documents", "orders"})


def build_empty_tables(out: str) -> None:
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        con.execute(
            f"""COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet')
                 WHERE 1 = 0)
                TO '{out}/{t}.parquet' (FORMAT PARQUET)"""
        )
    _copy_rest(out, {"documents", "events", "embeddings"})


def build_far_dates(out: str) -> None:
    con = duckdb.connect()
    # half the events ~350 years forward, the rest ~120 years back
    # (post-epoch kept positive so streaming watermarks stay valid)
    con.execute(
        f"""COPY (SELECT event_id,
              CASE WHEN event_id % 2 = 0
                   THEN ts + INTERVAL 226 YEAR
                   ELSE ts + INTERVAL 50 YEAR END AS ts,
              user_id, event_type, value, props
            FROM read_parquet('{SRC}/events.parquet'))
            TO '{out}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT o_orderkey, o_custkey, o_orderstatus,
              o_totalprice,
              CASE WHEN o_orderkey % 2 = 0
                   THEN o_orderdate + INTERVAL 404 YEAR
                   ELSE o_orderdate - INTERVAL 91 YEAR END AS o_orderdate,
              o_orderpriority
            FROM read_parquet('{SRC}/orders.parquet'))
            TO '{out}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
              CASE WHEN l_orderkey % 2 = 0
                   THEN l_shipdate + INTERVAL 404 YEAR
                   ELSE l_shipdate - INTERVAL 91 YEAR END AS l_shipdate)
            FROM read_parquet('{SRC}/lineitem.parquet'))
            TO '{out}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    _copy_rest(out, {"events", "orders", "lineitem"})


def build_extreme_numerics(out: str) -> None:
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT event_id, ts, user_id, event_type,
              CASE event_id % 7
                WHEN 0 THEN 99999999.99
                WHEN 1 THEN -99999999.99
                WHEN 2 THEN 0.01
                ELSE value END AS value, props
            FROM read_parquet('{SRC}/events.parquet'))
            TO '{out}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT o_orderkey, o_custkey, o_orderstatus,
              CASE o_orderkey % 7
                WHEN 0 THEN 99999999.99
                WHEN 1 THEN 0.01 ELSE o_totalprice END AS o_totalprice,
              o_orderdate, o_orderpriority
            FROM read_parquet('{SRC}/orders.parquet'))
            TO '{out}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT * REPLACE (
              CASE l_orderkey % 7 WHEN 0 THEN 9999999.99
                ELSE l_extendedprice END AS l_extendedprice)
            FROM read_parquet('{SRC}/lineitem.parquet'))
            TO '{out}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    _copy_rest(out, {"events", "orders", "lineitem"})


def build_schema_drift(out: str) -> None:
    """Producer heterogeneity: the same VALUES under drifted
    physical schemas — int32 keys, float32 measures, decimal-
    physical money, reordered columns, stray producer columns.
    load_table's CANONICAL normalization must make every query
    blind to the vintage; DuckDB reads the same raw files, so the
    oracle doubles as a check that the widening casts are
    value-preserving."""
    con = duckdb.connect()
    con.execute(
        f"""COPY (SELECT
              CAST(o_custkey AS INTEGER) AS o_custkey,
              o_orderpriority,
              CAST(o_orderkey AS INTEGER) AS o_orderkey,
              CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice,
              o_orderdate, o_orderstatus,
              CAST(7 AS INTEGER) AS _ingest_batch
            FROM read_parquet('{SRC}/orders.parquet'))
            TO '{out}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT
              l_returnflag, l_linestatus, l_shipdate,
              CAST(l_orderkey AS INTEGER) AS l_orderkey,
              CAST(l_partkey AS INTEGER) AS l_partkey,
              CAST(l_suppkey AS INTEGER) AS l_suppkey,
              CAST(l_linenumber AS BIGINT) AS l_linenumber,
              CAST(l_quantity AS DECIMAL(12,2)) AS l_quantity,
              CAST(l_extendedprice AS DECIMAL(12,2)) AS l_extendedprice,
              l_discount, l_tax
            FROM read_parquet('{SRC}/lineitem.parquet'))
            TO '{out}/lineitem.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT
              event_type, CAST(value AS REAL) AS value, props,
              CAST(event_id AS INTEGER) AS event_id, ts,
              CAST(user_id AS INTEGER) AS user_id,
              'crawler-7' AS _producer
            FROM read_parquet('{SRC}/events.parquet'))
            TO '{out}/events.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT
              lang, source, text,
              CAST(doc_id AS INTEGER) AS doc_id,
              CAST(n_chars AS INTEGER) AS n_chars,
              CAST(0 AS BIGINT) AS _shard
            FROM read_parquet('{SRC}/documents.parquet'))
            TO '{out}/documents.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT
              CAST(label AS BIGINT) AS label, embedding,
              CAST(vec_id AS INTEGER) AS vec_id
            FROM read_parquet('{SRC}/embeddings.parquet'))
            TO '{out}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    con.execute(
        f"""COPY (SELECT c_mktsegment, c_name,
              CAST(c_custkey AS INTEGER) AS c_custkey,
              CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal,
              c_nationkey
            FROM read_parquet('{SRC}/customer.parquet'))
            TO '{out}/customer.parquet' (FORMAT PARQUET)"""
    )
    _copy_rest(out, {"orders", "lineitem", "events", "documents",
                     "embeddings", "customer"})


BUILDERS = {
    "empty_slices": build_empty_slices,
    "empty_tables": build_empty_tables,
    "far_dates": build_far_dates,
    "extreme_numerics": build_extreme_numerics,
    "schema_drift": build_schema_drift,
}

# structurally-invalid combos, not bugs:
EXCLUDE = {
    # knob-sized index artifacts can't exist for a 0-row corpus (the
    # oracle's centroid/codebook counts are knob literals); ANN /
    # k-means trainers need >= 1 vector by contract
    "empty_tables": {
        "ann_index_build",
    },
    # pre-epoch event time is outside the watermarked-streaming
    # contract (streaming.events.drain docstring) — but this build
    # keeps all events post-epoch, so only one exclusion:
    # compat_pandas_quarterly routes through pandas-on-Spark, whose
    # internal Arrow->pandas conversion REQUIRES datetime64[ns]
    # (representable range 1677-2262); year-2400 orders are
    # unrepresentable in pandas itself — the reference's own pandas
    # engine fails identically. The NATIVE twins (op_quarter_agg,
    # npl_quarterly) pass this build; the compat bridge documents
    # the ns range as a porting caveat, not a parity gap.
    "far_dates": {"compat_pandas_quarterly"},
    "empty_slices": set(),
    "extreme_numerics": set(),
    "schema_drift": set(),
}


def run_class(cls: str, spark, queries, oracles) -> list[str]:
    out = os.path.join(TMP, cls)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    BUILDERS[cls](out)
    fails: list[str] = []
    for name, sql in oracles.items():
        if name in EXCLUDE.get(cls, set()):
            print(f"[{cls}] {name}: EXCLUDED (documented)", flush=True)
            continue
        try:
            df = queries[name](spark, out)
            assert_matches_oracle(df, sql, out)
            print(f"[{cls}] {name}: ok", flush=True)
        except BaseException as exc:  # noqa: BLE001 - report, keep
            # sweeping (pytest.fail raises an OutcomeException that
            # derives from BaseException, not Exception)
            msg = f"{type(exc).__name__}: {str(exc)[:300]}"
            print(f"[{cls}] {name}: FAIL {msg}", flush=True)
            if "--trace" in sys.argv:
                traceback.print_exc()
            fails.append(f"{cls}/{name}")
    return fails


def main() -> None:
    classes = [a for a in sys.argv[1:] if a in BUILDERS] or list(BUILDERS)
    spark = get_spark("adversarial-sweep")
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    all_fails: list[str] = []
    for cls in classes:
        all_fails += run_class(cls, spark, queries, oracles)
    print(f"TOTAL FAILS: {len(all_fails)}")
    for f in all_fails:
        print("  " + f)
    sys.exit(1 if all_fails else 0)


if __name__ == "__main__":
    main()
