"""Reference-pipeline analog: the full NPL ETL re-expressed on the
synthetic star schema.

Mapping of reference semantics (src/ETL-NPL-Pipeline.py) onto the
test tables:

- personal-consumption segment  → ``c_mktsegment`` (ref splits
  Housing/Automobile/Credit Card, src:184)
- Gross NPL per segment-quarter → revenue of returned lineitems
  (``l_returnflag = 'R'``), the "non-performing" slice
- Total Loan                    → total lineitem revenue
  (ref derives Total Loan = Gross NPL / %NPL, src:176; here we
  have the base facts, so %NPL = gross/total is the derived one)
- Flowrate                      → global returned/total revenue per
  quarter (ref: Gross New NPL / Total Loan, src:248)
- GDP / Inflation macro series  → per-quarter avg order value and
  a price index (stand-in macro indicators)
- Macro Shock Index             → binary flag on 1998-Q1..1999-Q4
  (ref: COVID window flag, src:564)
- final assembly                → outer-join chain on Quarter
  (ref: common_df + per-segment merges, src:706-728)

Scale shape: one shuffle joins lineitem→orders on orderkey
(customer broadcasts), one map-side-combined agg per series, then
outer joins between tiny per-quarter aggregates (broadcast).
Money aggregates are exact decimals (functions/exact.py) so values
hash-match the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_npl_pipeline_spark.functions import quarter_of, shock_flag
from etl_npl_pipeline_spark.functions.exact import MONEY, davg, dsum, money
from etl_npl_pipeline_spark.operators import merge_chain
from etl_npl_pipeline_spark.sources.tables import load_table

SHOCK_START, SHOCK_END = "1998-Q1", "1999-Q4"


def _li_with_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer with the order's quarter key.

    The fact-fact join shuffles once on orderkey; customer is a
    broadcast. Quarter is derived from o_orderdate so every series
    shares one key domain, like the reference's 'Quarter' column.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_returnflag"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            quarter_of("o_orderdate").alias("quarter"),
            F.col("c_mktsegment").alias("segment"),
            "l_extendedprice",
            "l_returnflag",
        )
    )


def _returned() -> F.Column:
    """Exact-decimal revenue of returned lineitems, else 0."""
    return F.when(F.col("l_returnflag") == "R", money("l_extendedprice")).otherwise(
        F.lit(0).cast(MONEY)
    )


_SQL_RETURNED = (
    "CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(12,2))"
    " ELSE CAST(0 AS DECIMAL(12,2)) END"
)
_SQL_BASE = """
    SELECT (YEAR(o_orderdate) || '-Q' || QUARTER(o_orderdate)) AS quarter,
           c_mktsegment AS segment, l_extendedprice, l_returnflag
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
"""


def _seg_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One aggregation pass per (segment, quarter), keeping DECIMAL
    sums un-cast so downstream re-aggregation stays exact.

    Every quarterly series derives from this frame: decimal sums
    re-associate exactly, so sum-of-segment-sums equals the direct
    per-quarter sum bit-for-bit — and Spark's ReusedExchange runs
    the heavy lineitem join ONCE for all consumers (the three
    series share this subtree's shuffle).
    """
    base = _li_with_quarter(spark, sf_dir)
    return base.groupBy("segment", "quarter").agg(
        F.sum(_returned()).alias("gross_dec"),
        F.sum(money("l_extendedprice")).alias("total_dec"),
        F.count(F.lit(1)).alias("n_items"),
    )


def npl_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (segment, quarter): gross_npl, total_loan, pct_npl
    (ref: npl_transform output per category, src:121-191)."""
    return _seg_agg(spark, sf_dir).select(
        "segment",
        "quarter",
        F.col("gross_dec").cast("double").alias("gross_npl"),
        F.col("total_dec").cast("double").alias("total_loan"),
        (F.col("gross_dec").cast("double") / F.col("total_dec").cast("double")).alias(
            "pct_npl"
        ),
    )


def quarter_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both lineitem-derived quarterly series (flowrate + price
    index) in ONE re-aggregation of the segment frame — a single
    consumer, so no diamond-shaped plan and one lineitem scan."""
    return _series_from(_seg_agg(spark, sf_dir))


def _series_from(seg: DataFrame) -> DataFrame:
    """quarter_series body over a caller-supplied segment frame, so
    run_full_pipeline can feed a SHARED (checkpointed) seg to both
    writes instead of re-running the lineitem join per output
    (decimal sums re-associate exactly — same values either way)."""
    return seg.groupBy("quarter").agg(
        (
            F.sum("gross_dec").cast("double") / F.sum("total_dec").cast("double")
        ).alias("flowrate_ratio"),
        (
            (F.sum("total_dec").cast("double") / F.sum("n_items"))
            / F.lit(100000.0)
        ).alias("price_index"),
    )


def macro_by_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stand-in macro series: per-quarter avg order value ('gdp')
    and order count, from orders alone
    (ref: gdp_transform / inflation_transformation outputs)."""
    orders = load_table(spark, sf_dir, "orders").select(
        quarter_of("o_orderdate").alias("quarter"), "o_totalprice"
    )
    return orders.groupBy("quarter").agg(
        davg(money("o_totalprice")).alias("avg_order_value"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def npl_assemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """common_df analog: outer-join chain of the quarterly series +
    shock flag (ref: src:706-708).

    flowrate + price_index come out of ONE aggregation carried in
    ONE frame (selecting them from two separate quarter_series
    calls would rebuild the plan twice — column pruning makes the
    diamond subtrees non-identical, so ReusedExchange cannot
    deduplicate them and lineitem would scan twice); the
    orders-derived macro frame outer-joins on the shared quarter
    key. Output column order mirrors the oracle.
    """
    return _assemble_from(
        quarter_series(spark, sf_dir), macro_by_quarter(spark, sf_dir)
    )


def _assemble_from(series: DataFrame, macro: DataFrame) -> DataFrame:
    common = merge_chain(
        [series, macro],
        on="quarter",
        how="outer",
        broadcast_tail=True,
    )
    return common.select(
        "quarter",
        "flowrate_ratio",
        "avg_order_value",
        "n_orders",
        "price_index",
    ).withColumn(
        "shock", shock_flag("quarter", SHOCK_START, SHOCK_END)
    ).orderBy("quarter")


def npl_quarterly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline: per-segment NPL series with quarter-level
    series attached via window sums (ref: housing/automobile/
    credit_card assembly, src:714-728 — one frame with a segment
    column instead of a dict of frames).

    Window aggregation over the quarter partition replaces the
    seg ⟗ re-aggregated-seg diamond — ONE lineitem scan end to end
    (column pruning makes diamond subtrees non-identical, so
    Spark's ReusedExchange cannot deduplicate them; the window
    formulation sidesteps that). Decimal sums keep the window
    totals bit-identical to the oracle's direct per-quarter sums.
    """
    return _quarterly_from(
        _seg_agg(spark, sf_dir), macro_by_quarter(spark, sf_dir)
    )


def _quarterly_from(seg: DataFrame, macro: DataFrame) -> DataFrame:
    """npl_quarterly body over caller-supplied seg/macro frames (see
    _series_from — the run_full_pipeline single-scan path)."""
    from pyspark.sql import Window

    w = Window.partitionBy("quarter")
    enriched = seg.select(
        "quarter",
        "segment",
        F.col("gross_dec").cast("double").alias("gross_npl"),
        F.col("total_dec").cast("double").alias("total_loan"),
        (F.col("gross_dec").cast("double") / F.col("total_dec").cast("double")).alias(
            "pct_npl"
        ),
        (
            F.sum("gross_dec").over(w).cast("double")
            / F.sum("total_dec").over(w).cast("double")
        ).alias("flowrate_ratio"),
        (
            (F.sum("total_dec").over(w).cast("double") / F.sum("n_items").over(w))
            / F.lit(100000.0)
        ).alias("price_index"),
    )
    return (
        enriched.join(F.broadcast(macro), on="quarter", how="outer")
        .withColumn("shock", shock_flag("quarter", SHOCK_START, SHOCK_END))
        .select(
            "quarter",
            "segment",
            "gross_npl",
            "total_loan",
            "pct_npl",
            "flowrate_ratio",
            "avg_order_value",
            "n_orders",
            "price_index",
            "shock",
        )
        .orderBy("segment", "quarter")
    )


NPL_BY_SEGMENT_SQL = f"""
WITH base AS ({_SQL_BASE})
SELECT segment, quarter,
       CAST(SUM({_SQL_RETURNED}) AS DOUBLE) AS gross_npl,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_loan,
       CAST(SUM({_SQL_RETURNED}) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS pct_npl
FROM base GROUP BY segment, quarter
"""

NPL_ASSEMBLE_SQL = f"""
WITH base AS ({_SQL_BASE}),
flowrate AS (
    SELECT quarter,
           CAST(SUM({_SQL_RETURNED}) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS flowrate_ratio
    FROM base GROUP BY quarter
), macro AS (
    SELECT (YEAR(o_orderdate) || '-Q' || QUARTER(o_orderdate)) AS quarter,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(o_totalprice) AS avg_order_value,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1
), discount AS (
    SELECT quarter,
           (CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(l_extendedprice)) / 100000.0 AS price_index
    FROM base GROUP BY quarter
)
SELECT quarter, f.flowrate_ratio, m.avg_order_value, m.n_orders,
       d.price_index,
       CAST(quarter BETWEEN '1998-Q1' AND '1999-Q4' AS INT) AS shock
FROM flowrate f
FULL OUTER JOIN macro m USING (quarter)
FULL OUTER JOIN discount d USING (quarter)
ORDER BY quarter
"""

NPL_QUARTERLY_SQL = f"""
WITH seg AS ({NPL_BY_SEGMENT_SQL}),
common AS ({NPL_ASSEMBLE_SQL.replace("ORDER BY quarter", "")})
SELECT quarter, seg.segment, seg.gross_npl, seg.total_loan, seg.pct_npl,
       common.flowrate_ratio, common.avg_order_value, common.n_orders,
       common.price_index, common.shock
FROM seg FULL OUTER JOIN common USING (quarter)
ORDER BY segment, quarter
"""
