"""Lakehouse-maintenance contract queries (SURVEY §2.2 T19/T20).

The reference pipeline only ever appends timestamped CSV snapshots
(`src/ETL-NPL-Pipeline.py` src:768+); the versioned-table layer —
row-level MERGE, SCD2 history, merge-on-read time travel — is the
brief-mandated lakehouse extension. `mor_snapshot_asof` (extras.py)
covers MOR; this module gives the remaining two write paths
driver-grade oracle evidence:

- ``scd2_history``: type-2 slowly-changing dimension built from a
  deterministic change batch (operators/quality.scd2_apply).
- ``merge_cow_read``: copy-on-write row-level MERGE on a partitioned
  parquet table (sinks.merge_upsert), read back in full.

Both rebuild their temp tables from parquet ground truth on every
call, so retries, engines, and scale factors agree byte-for-byte.
"""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_npl_pipeline_spark.session import scratch_dir
from etl_npl_pipeline_spark.sources.tables import load_table

_COW_TMP = scratch_dir("cow_merge")


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T20 contract: seed an SCD2 dimension from `customer` (keys not
    divisible by 3, open versions effective 2020-01-01), then apply
    one deterministic change batch (every even key; keys divisible
    by 4 move to segment 'RELOCATED') at batch_ts 2021-07-01 and
    return the FULL versioned history.

    The batch exercises all three SCD2 paths at once: attr change
    (close + reopen), no-op change (attrs equal → passthrough), and
    brand-new key (insert open). Scale shape (quality.scd2_apply):
    the change batch broadcast-joins ONLY the open slice — closed
    history, the bulk of a dimension at 100 TB, is never joined.
    """
    from etl_npl_pipeline_spark.operators.quality import scd2_apply

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    current = (
        cust.where(F.col("c_custkey") % 3 != 0)
        .withColumn("valid_from", F.lit("2020-01-01"))
        .withColumn("valid_to", F.lit("9999-12-31"))
    )
    changes = cust.where(F.col("c_custkey") % 2 == 0).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 4 == 0, F.lit("RELOCATED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    out = scd2_apply(
        current,
        changes,
        key_cols=["c_custkey"],
        attr_cols=["c_mktsegment", "c_nationkey"],
        batch_ts="2021-07-01",
    )
    return out.orderBy("c_custkey", "valid_from")


SCD2_HISTORY_SQL = """
WITH cust AS (
    SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
),
cur AS (SELECT * FROM cust WHERE c_custkey % 3 <> 0),
chg AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 4 = 0 THEN 'RELOCATED'
                ELSE c_mktsegment END AS c_mktsegment,
           c_nationkey
    FROM cust WHERE c_custkey % 2 = 0
)
SELECT * FROM (
    -- untouched / no-op open versions
    SELECT cur.c_custkey, cur.c_mktsegment, cur.c_nationkey,
           '2020-01-01' AS valid_from, '9999-12-31' AS valid_to
    FROM cur LEFT JOIN chg ON cur.c_custkey = chg.c_custkey
    WHERE chg.c_custkey IS NULL
       OR (chg.c_mktsegment = cur.c_mktsegment
           AND chg.c_nationkey = cur.c_nationkey)
    UNION ALL
    -- versions closed by the batch
    SELECT cur.c_custkey, cur.c_mktsegment, cur.c_nationkey,
           '2020-01-01', '2021-07-01'
    FROM cur JOIN chg ON cur.c_custkey = chg.c_custkey
    WHERE chg.c_mktsegment <> cur.c_mktsegment
       OR chg.c_nationkey <> cur.c_nationkey
    UNION ALL
    -- new open versions (changed keys + brand-new keys)
    SELECT chg.c_custkey, chg.c_mktsegment, chg.c_nationkey,
           '2021-07-01', '9999-12-31'
    FROM chg LEFT JOIN cur ON chg.c_custkey = cur.c_custkey
    WHERE cur.c_custkey IS NULL
       OR chg.c_mktsegment <> cur.c_mktsegment
       OR chg.c_nationkey <> cur.c_nationkey
)
ORDER BY c_custkey, valid_from
"""


def merge_cow_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T19 contract: seed a parquet table partitioned by
    `o_orderstatus` with orders < 2000, MERGE an update batch
    (orders 1000–2999, price +50000: rows 1000–1999 update in place,
    2000–2999 insert), and read the merged table back in full.

    Scale shape (sinks.merge_upsert): the rewrite touches ONLY the
    partitions the batch lands in — existing rows leave via a
    broadcast anti-join on the key, so cost is O(affected
    partitions), never O(table). The oracle replays last-writer-wins
    directly on the parquet ground truth.
    """
    from etl_npl_pipeline_spark import sinks

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderstatus",
    )
    shutil.rmtree(_COW_TMP, ignore_errors=True)
    base = orders.where(F.col("o_orderkey") < 2000)
    base.write.partitionBy("o_orderstatus").parquet(_COW_TMP)
    updates = orders.where(
        (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 3000)
    ).withColumn("o_totalprice", F.col("o_totalprice") + F.lit(50000.0))
    sinks.merge_upsert(
        spark,
        _COW_TMP,
        updates,
        key_cols=["o_orderkey"],
        partition_col="o_orderstatus",
    )
    back = spark.read.option("basePath", _COW_TMP).parquet(_COW_TMP)
    return back.select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    ).orderBy("o_orderkey")


MERGE_COW_READ_SQL = """
WITH base AS (
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey < 2000
),
upd AS (
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) + 50000.0 AS o_totalprice,
           o_orderstatus
    FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000
)
SELECT * FROM (
    SELECT * FROM base
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
    UNION ALL
    SELECT * FROM upd
)
ORDER BY o_orderkey
"""


# --- T24: point-in-time join to the SCD2 dimension ----------------

def scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T24 (r13): the READ side of SCD2 — a point-in-time (PIT)
    join of the orders fact to a versioned customer dimension: each
    order picks the dimension version whose validity interval
    covers o_orderdate, so revenue is attributed to the segment the
    customer was in AT ORDER TIME, not today (the as-of-dimension
    semantics every feature store / Kimball warehouse ships;
    `scd2_history` builds the write side, this is the query that
    consumes it).

    Dimension is rebuilt deterministically from parquet ground
    truth (the lakehouse-module doctrine): every even custkey
    changes segment on 1998-01-01 (RELOCATED when %4==0 — attr
    change — else a no-op reopen: a real SCD2 history contains
    both), odd keys keep one open version.

    Scale shape: PIT join = EQUI-join on the surrogate natural key
    + a validity-interval filter — never a range/theta join. The
    per-key version count is small and bounded (here 2; in any real
    dimension, #changes per entity), so the post-join filter is
    linear and skew-safe; Catalyst broadcasts the dim when small
    and sort-merges on the key at 100 TB. Money sums aggregate as
    exact DECIMAL (functions.exact) so both engines emit
    bit-identical doubles.
    """
    from etl_npl_pipeline_spark.functions.exact import dsum, money

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    changed = F.col("c_custkey") % 2 == 0
    v1 = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit("1995-01-01").alias("valid_from"),
        F.when(changed, F.lit("1998-01-01"))
        .otherwise(F.lit("9999-12-31"))
        .alias("valid_to"),
    )
    v2 = cust.where(changed).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 4 == 0, F.lit("RELOCATED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment"),
        F.lit("1998-01-01").alias("valid_from"),
        F.lit("9999-12-31").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    od = F.date_format("o_orderdate", "yyyy-MM-dd")
    return (
        orders.join(dim, orders.o_custkey == dim.c_custkey)
        .where((od >= F.col("valid_from")) & (od < F.col("valid_to")))
        .groupBy(
            "segment", F.year("o_orderdate").cast("long").alias("order_year")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(money("o_totalprice")).alias("sum_total"),
        )
        .orderBy("segment", "order_year")
    )


SCD2_PIT_JOIN_SQL = """
WITH cust AS (SELECT c_custkey, c_mktsegment FROM customer),
dim AS (
    SELECT c_custkey, c_mktsegment AS segment,
           '1995-01-01' AS valid_from,
           CASE WHEN c_custkey % 2 = 0 THEN '1998-01-01'
                ELSE '9999-12-31' END AS valid_to
    FROM cust
    UNION ALL
    SELECT c_custkey,
           CASE WHEN c_custkey % 4 = 0 THEN 'RELOCATED'
                ELSE c_mktsegment END AS segment,
           '1998-01-01' AS valid_from, '9999-12-31' AS valid_to
    FROM cust WHERE c_custkey % 2 = 0
)
SELECT dim.segment,
       CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS order_year,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
           AS sum_total
FROM orders o
JOIN dim ON o.o_custkey = dim.c_custkey
WHERE strftime(o.o_orderdate, '%Y-%m-%d') >= dim.valid_from
  AND strftime(o.o_orderdate, '%Y-%m-%d') < dim.valid_to
GROUP BY dim.segment, order_year
ORDER BY segment, order_year
"""
