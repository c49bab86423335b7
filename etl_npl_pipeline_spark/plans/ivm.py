"""Snapshot-diff and incremental-view-maintenance contracts
(SURVEY §2.2 T22/T23, r11).

The reference appends timestamped CSV snapshots and recomputes its
rollups from scratch each run (`src/ETL-NPL-Pipeline.py` src:768+,
src:353/441); at 100 TB neither "what changed between snapshots?"
nor "recompute the rollup" can afford a full-table pass. These two
queries give the two standard answers driver-grade oracle evidence:

- ``snapshot_diff``: CDC-style change feed between two persisted
  table versions (the Delta Lake CDF / Iceberg changelog shape),
  restricted to the PARTITIONS the writer actually rewrote.
- ``agg_incremental``: algebraic incremental view maintenance —
  merge the new slice's PARTIAL aggregates into the materialized
  rollup without rescanning history.

Both rebuild their temp tables from parquet ground truth on every
call (the lakehouse.py doctrine), so retries, engines, and scale
factors agree byte-for-byte.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_npl_pipeline_spark.session import scratch_dir, sf_scratch_dir
from etl_npl_pipeline_spark.sources.tables import load_table
from etl_npl_pipeline_spark.streaming.events import drain, staged_stream

_DIFF_TMP = scratch_dir("snapshot_diff")
_IVM_TMP = scratch_dir("agg_incremental")


def _orders_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
        "o_orderstatus",
    )


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T22: change feed between two snapshot versions of an orders
    table — v1 = keys < 3000; v2 applies one deterministic batch
    (update: keys 1000-1999 price +50000; delete: keys < 1000
    divisible by 7; insert: keys 3000-3499). Emits one row per
    changed key with change_type ∈ {insert, delete, update} and the
    pre/post prices — the Delta-CDF/Iceberg-changelog read shape
    that feeds downstream incremental consumers.

    Scale design: the writer only rewrites the partitions the batch
    lands in, so the differ FIRST diffs the snapshot MANIFESTS
    (per-partition file lists — metadata, thousands of rows at
    100 TB) and joins snapshot data ONLY for partitions whose file
    sets differ; untouched partitions are skipped by parquet
    partition pruning on both sides (the o_orderstatus IN (...)
    filter lands in PartitionFilters, zero data read). The join
    itself is a co-partitioned full-outer on the key with null-aware
    classification; at 100 TB both sides shuffle once on o_orderkey
    within only the touched partitions.
    """
    orders = _orders_base(spark, sf_dir)
    shutil.rmtree(_DIFF_TMP, ignore_errors=True)
    v1 = orders.where(F.col("o_orderkey") < 3000)
    v1.write.partitionBy("o_orderstatus").parquet(f"{_DIFF_TMP}/v1")

    upd = F.when(
        (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000),
        F.col("o_totalprice") + 50000.0,
    ).otherwise(F.col("o_totalprice"))
    v2 = (
        orders.where(
            (F.col("o_orderkey") < 3000)
            & ~(
                (F.col("o_orderkey") < 1000)
                & (F.col("o_orderkey") % 7 == 0)
            )
        )
        .withColumn("o_totalprice", upd)
        .unionByName(
            orders.where(
                (F.col("o_orderkey") >= 3000)
                & (F.col("o_orderkey") < 3500)
            )
        )
    )
    v2.write.partitionBy("o_orderstatus").parquet(f"{_DIFF_TMP}/v2")

    # manifest diff: per-partition file fingerprints from the FS
    # listing (no data read). A partition participates in the data
    # diff only if its (name, size) file set changed.
    def manifest(root: str) -> dict[str, frozenset]:
        parts: dict[str, frozenset] = {}
        for d in os.listdir(root):
            if not d.startswith("o_orderstatus="):
                continue
            files = frozenset(
                (f, os.path.getsize(os.path.join(root, d, f)))
                for f in os.listdir(os.path.join(root, d))
                if f.endswith(".parquet")
            )
            parts[d.split("=", 1)[1]] = files
        return parts

    m1, m2 = manifest(f"{_DIFF_TMP}/v1"), manifest(f"{_DIFF_TMP}/v2")
    touched = sorted(
        p
        for p in set(m1) | set(m2)
        if m1.get(p) != m2.get(p)
    )
    if not touched:
        # empty-input contract: no rewritten partitions -> empty
        # change feed (reading a partitionless parquet dir would
        # fail schema inference)
        return spark.createDataFrame(
            [],
            "o_orderkey bigint, change_type string, "
            "price_pre double, price_post double",
        )
    # this batch touches every status at these SFs, but the pruning
    # filter is load-bearing at scale and the plan-quality test pins
    # it lands in PartitionFilters
    r1 = (
        spark.read.option("basePath", f"{_DIFF_TMP}/v1")
        .parquet(f"{_DIFF_TMP}/v1")
        .where(F.col("o_orderstatus").isin(touched))
        .select("o_orderkey", F.col("o_totalprice").alias("price_pre"))
    )
    r2 = (
        spark.read.option("basePath", f"{_DIFF_TMP}/v2")
        .parquet(f"{_DIFF_TMP}/v2")
        .where(F.col("o_orderstatus").isin(touched))
        .select("o_orderkey", F.col("o_totalprice").alias("price_post"))
    )
    diff = (
        r1.join(r2, "o_orderkey", "full_outer")
        .withColumn(
            "change_type",
            F.when(F.col("price_pre").isNull(), F.lit("insert"))
            .when(F.col("price_post").isNull(), F.lit("delete"))
            .when(
                F.col("price_pre") != F.col("price_post"), F.lit("update")
            ),
        )
        .where(F.col("change_type").isNotNull())
        .select("o_orderkey", "change_type", "price_pre", "price_post")
        .orderBy("o_orderkey")
    )
    return diff


SNAPSHOT_DIFF_SQL = """
WITH v1 AS (
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price_pre
    FROM orders WHERE o_orderkey < 3000
),
v2 AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey >= 1000 AND o_orderkey < 2000
                THEN CAST(o_totalprice AS DOUBLE) + 50000.0
                ELSE CAST(o_totalprice AS DOUBLE) END AS price_post
    FROM orders
    WHERE (o_orderkey < 3000
           AND NOT (o_orderkey < 1000 AND o_orderkey % 7 = 0))
       OR (o_orderkey >= 3000 AND o_orderkey < 3500)
)
SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
       CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
            WHEN v2.o_orderkey IS NULL THEN 'delete'
            WHEN price_pre <> price_post THEN 'update' END AS change_type,
       price_pre, price_post
FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
WHERE CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
           WHEN v2.o_orderkey IS NULL THEN 'delete'
           WHEN price_pre <> price_post THEN 'update' END IS NOT NULL
ORDER BY o_orderkey
"""


def agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T23: algebraic incremental view maintenance of a monthly
    revenue rollup over lineitem. The materialized state holds
    PARTIAL aggregates (sum, count — mergeable monoids, the
    Tungsten partial-agg contract surfaced as a table); a new data
    slice contributes its own partials, and the refresh is
    merge = union → groupBy → SUM of partials. History is NEVER
    rescanned: refresh cost is O(new slice + |rollup|), not
    O(table) — the difference between a 100 TB backfill and a
    per-batch maintenance job.

    The contract splits lineitem by ship date: base = months before
    1998-06, delta = 1998-06 onward (the synthetic tail). Base
    partials persist to parquet (the materialized view), the delta's
    partials merge in, and the query returns the refreshed rollup
    with avg derived FROM the merged partials (sum/count — derived
    metrics must come from partials, never averaged averages).
    The oracle recomputes the whole rollup from scratch; equality IS
    the IVM correctness statement.

    Money stays EXACT DECIMAL through both aggregation stages (the
    functions.exact contract): a double revenue sum at sf1 reaches
    ~5e9 where the two-stage partial merge reorders more additions
    than the oracle's single pass, and the accumulated ulp error
    crossed a 2-dp rounding boundary (sf1 harness caught it —
    rows matched, two cells off by 0.01). Decimal partials make the
    merge bit-exact at every scale; the cast to double happens once,
    on the exact total.
    """
    from etl_npl_pipeline_spark.functions.exact import money, rate

    one = F.lit(1).cast("decimal(4,2)")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        (money("l_extendedprice") * (one - rate("l_discount"))).alias(
            "rev"
        ),
    )
    shutil.rmtree(_IVM_TMP, ignore_errors=True)

    def partials(df: DataFrame) -> DataFrame:
        # p_sum stays decimal in the persisted state — parquet
        # round-trips the exact type, so the merge adds decimals
        return df.groupBy("ship_month").agg(
            F.sum("rev").alias("p_sum"), F.count(F.lit(1)).alias("p_n")
        )

    # ONE lineitem pass for both sides (r14, guide §6.2): the
    # base/delta split predicate is on the GROUP KEY (ship_month),
    # so filtering the monthly partials AFTER the aggregation is
    # row-identical to aggregating each filtered slice — and the
    # checkpointed partials frame (≤ |months| rows) feeds both the
    # state write and the delta merge without rescanning the fact
    # table.
    parts = partials(li).localCheckpoint(eager=False)
    parts.where(F.col("ship_month") < "1998-06").write.parquet(
        f"{_IVM_TMP}/state"
    )
    state = spark.read.parquet(f"{_IVM_TMP}/state")
    delta = parts.where(F.col("ship_month") >= "1998-06")
    merged = (
        state.unionByName(delta)
        .groupBy("ship_month")
        .agg(F.sum("p_sum").alias("s"), F.sum("p_n").alias("n_items"))
        .select(
            "ship_month",
            F.col("s").cast("double").alias("revenue"),
            "n_items",
            F.round(
                F.col("s").cast("double") / F.col("n_items"), 6
            ).alias("avg_rev"),
        )
        .orderBy("ship_month")
    )
    return merged


_SQL_DISC = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)

AGG_INCREMENTAL_SQL = f"""
SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
       CAST(SUM({_SQL_DISC}) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items,
       ROUND(CAST(SUM({_SQL_DISC}) AS DOUBLE) / COUNT(*), 6) AS avg_rev
FROM lineitem
GROUP BY ship_month ORDER BY ship_month
"""


def stream_agg_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST12: STREAMING incremental view maintenance — the streaming
    twin of ``agg_incremental``. Events arrive as four micro-batches
    (``staged_stream``, slice = event_id mod 4); each batch writes
    ONLY its own partial aggregates (sum, count per event_type) to a
    batch-id-versioned delta dir, and the refreshed rollup is the
    monoid merge of all deltas. History is never rescanned; a
    replayed batch_id overwrites its own dir (foreachBatch is
    at-least-once — idempotence comes from the deterministic dir
    name, the stream_upsert_mor doctrine), so the final state is
    exactly-once and batch-packing-independent: sum/count are
    associative-commutative, which is precisely why the oracle can
    replay the WHOLE rollup as one batch aggregate.
    """
    ev_batch = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double").alias("value")
    )
    tmp = sf_scratch_dir("stream_agg_incremental", sf_dir)
    stream = staged_stream(ev_batch, F.pmod("event_id", 4), 4, f"{tmp}/in")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.groupBy("event_type").agg(
            F.sum("value").alias("p_sum"), F.count(F.lit(1)).alias("p_n")
        ).write.mode("overwrite").parquet(f"{tmp}/deltas/b={batch_id}")

    drain(
        stream,
        "stream_agg_incremental",
        sink=sink,
        checkpoint=f"{tmp}/ckpt",
    )
    n_batches = len([d for d in os.listdir(f"{tmp}/deltas") if d.startswith("b=")])
    state = spark.read.option("basePath", f"{tmp}/deltas").parquet(f"{tmp}/deltas")
    return (
        state.groupBy("event_type")
        .agg(F.sum("p_sum").alias("s"), F.sum("p_n").alias("n_events"))
        .select(
            "event_type",
            F.round(F.col("s"), 4).alias("total_value"),
            "n_events",
            F.lit(n_batches).alias("n_batches"),
        )
        .orderBy("event_type")
    )


STREAM_AGG_INCREMENTAL_SQL = """
SELECT event_type,
       ROUND(SUM(CAST(value AS DOUBLE)), 4) AS total_value,
       COUNT(*) AS n_events,
       4 AS n_batches
FROM events
GROUP BY event_type ORDER BY event_type
"""


_CDC_BATCHES = [
    ("2021-07-01", 1),
    ("2022-01-01", 2),
    ("2022-07-01", 3),
]


def _apply_cdc_batch(
    spark: SparkSession, batch_df: DataFrame, state_dir: str
) -> None:
    """One micro-batch of the ST13 sink: order change rows by
    batch_seq WITHIN the batch, apply one scd2_apply per seq against
    the state chain persisted under ``state_dir``, and REJECT
    out-of-order delivery (a seq whose predecessor state does not
    exist). Module-level so the ordering guard is unit-testable
    outside a streaming query."""
    from etl_npl_pipeline_spark.operators.quality import scd2_apply

    ts_by_seq = {s: t for t, s in _CDC_BATCHES}
    seqs = sorted(
        r["batch_seq"]
        for r in batch_df.select("batch_seq").distinct().collect()
    )
    if not seqs:
        return
    done = {
        int(d.rsplit("state_seq", 1)[1])
        for d in os.listdir(state_dir)
        if d.startswith("state_seq")
    }
    for seq in seqs:
        # replay of an already-applied seq is allowed (idempotent
        # rewrite of its state dir); a seq whose predecessor state
        # does not exist is out-of-order delivery — hard error
        if seq - 1 not in done:
            raise RuntimeError(
                f"CDC out-of-order: batch seq {seq} arrived before "
                f"seq {seq - 1} was applied (have {sorted(done)})"
            )
        cur = spark.read.parquet(f"{state_dir}/state_seq{seq - 1}")
        chg = batch_df.where(F.col("batch_seq") == seq).select(
            "c_custkey", "c_mktsegment", "c_nationkey"
        )
        out = scd2_apply(
            cur,
            chg,
            key_cols=["c_custkey"],
            attr_cols=["c_mktsegment", "c_nationkey"],
            batch_ts=ts_by_seq[seq],
        )
        out.write.mode("overwrite").parquet(f"{state_dir}/state_seq{seq}")
        done.add(seq)


def stream_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST13: streaming CDC apply into a TYPE-2 versioned dimension —
    the streaming twin of T20's scd2_history. Three ordered change
    batches arrive as a file stream (``staged_stream``, slice =
    batch_seq - 1, so batch i carries seq i + 1); each micro-batch
    applies via quality.scd2_apply to the persisted dimension state
    and writes the next state version.

    The ordering contract is explicit, not assumed: SCD2 apply does
    NOT commute across batches, so the sink (a) orders change rows
    WITHIN a micro-batch by batch_seq and applies one scd2_apply per
    seq (a catch-up batch containing several files still lands in
    order), and (b) asserts seqs arrive monotonically non-decreasing
    across micro-batches — out-of-order delivery is a hard error,
    the same contract every CDC consumer (Debezium -> MERGE) runs
    under. Replay safety: a replayed batch re-applies at the same
    batch_ts and scd2_apply is a no-op on equal attrs, and the state
    version dir for that seq is simply rewritten — exactly-once
    history without a transaction log.

    Batches (applied to base = keys %3 != 0, open 2020-01-01):
    seq1: even keys, %4==0 -> segment RELOCATED (inserts the even
    %3==0 keys); seq2: %5==0 -> segment STREAMED; seq3: %7==0 ->
    nationkey+1 with ORIGINAL segment (attribute reversion — still a
    change). The oracle replays all three as an unrolled tri-state
    CTE chain.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    tmp = sf_scratch_dir("stream_cdc_scd2", sf_dir)
    base = (
        cust.where(F.col("c_custkey") % 3 != 0)
        .withColumn("valid_from", F.lit("2020-01-01"))
        .withColumn("valid_to", F.lit("9999-12-31"))
    )
    base.write.parquet(f"{tmp}/state_seq0")

    b1 = cust.where(F.col("c_custkey") % 2 == 0).select(
        F.lit(1).alias("batch_seq"),
        "c_custkey",
        F.when(F.col("c_custkey") % 4 == 0, F.lit("RELOCATED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        "c_nationkey",
    )
    b2 = cust.where(F.col("c_custkey") % 5 == 0).select(
        F.lit(2).alias("batch_seq"),
        "c_custkey",
        F.lit("STREAMED").alias("c_mktsegment"),
        "c_nationkey",
    )
    b3 = cust.where(F.col("c_custkey") % 7 == 0).select(
        F.lit(3).alias("batch_seq"),
        "c_custkey",
        F.col("c_mktsegment"),
        (F.col("c_nationkey") + 1).alias("c_nationkey"),
    )
    # staged in seq order; the sink still asserts it
    stream = staged_stream(
        b1.unionByName(b2).unionByName(b3),
        F.col("batch_seq") - 1,
        3,
        f"{tmp}/in",
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _apply_cdc_batch(spark, batch_df, tmp)

    drain(stream, "stream_cdc_scd2", sink=sink, checkpoint=f"{tmp}/ckpt")
    final = max(
        int(d.rsplit("state_seq", 1)[1])
        for d in os.listdir(tmp)
        if d.startswith("state_seq")
    )
    return (
        spark.read.parquet(f"{tmp}/state_seq{final}")
        .select(
            "c_custkey", "c_mktsegment", "c_nationkey",
            "valid_from", "valid_to",
        )
        .orderBy("c_custkey", "valid_from")
    )


def _cdc_scd2_oracle_sql() -> str:
    batches = {
        1: """SELECT c_custkey,
                 CASE WHEN c_custkey % 4 = 0 THEN 'RELOCATED'
                      ELSE c_mktsegment END AS c_mktsegment,
                 c_nationkey
          FROM cust WHERE c_custkey % 2 = 0""",
        2: """SELECT c_custkey, 'STREAMED' AS c_mktsegment, c_nationkey
          FROM cust WHERE c_custkey % 5 = 0""",
        3: """SELECT c_custkey, c_mktsegment, c_nationkey + 1 AS c_nationkey
          FROM cust WHERE c_custkey % 7 = 0""",
    }
    stages = []
    for ts, seq in _CDC_BATCHES:
        prev = f"hist{seq - 1}"
        stages.append(f"""chg{seq} AS MATERIALIZED ({batches[seq]}),
hist{seq} AS MATERIALIZED (
    -- closed history + untouched/no-op open versions pass through
    SELECT h.c_custkey, h.c_mktsegment, h.c_nationkey,
           h.valid_from, h.valid_to
    FROM {prev} h LEFT JOIN chg{seq} c
      ON h.c_custkey = c.c_custkey AND h.valid_to = '9999-12-31'
    WHERE c.c_custkey IS NULL
       OR (c.c_mktsegment = h.c_mktsegment
           AND c.c_nationkey = h.c_nationkey)
    UNION ALL
    -- open versions closed by this batch
    SELECT h.c_custkey, h.c_mktsegment, h.c_nationkey,
           h.valid_from, '{ts}'
    FROM {prev} h JOIN chg{seq} c ON h.c_custkey = c.c_custkey
    WHERE h.valid_to = '9999-12-31'
      AND (c.c_mktsegment <> h.c_mktsegment
           OR c.c_nationkey <> h.c_nationkey)
    UNION ALL
    -- new open versions (changed keys + brand-new keys)
    SELECT c.c_custkey, c.c_mktsegment, c.c_nationkey,
           '{ts}', '9999-12-31'
    FROM chg{seq} c LEFT JOIN (
        SELECT * FROM {prev} WHERE valid_to = '9999-12-31'
    ) o ON c.c_custkey = o.c_custkey
    WHERE o.c_custkey IS NULL
       OR c.c_mktsegment <> o.c_mktsegment
       OR c.c_nationkey <> o.c_nationkey
)""")
    chain = ",\n".join(stages)
    return f"""
WITH cust AS MATERIALIZED (
    SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
),
hist0 AS MATERIALIZED (
    SELECT c_custkey, c_mktsegment, c_nationkey,
           '2020-01-01' AS valid_from, '9999-12-31' AS valid_to
    FROM cust WHERE c_custkey % 3 <> 0
),
{chain}
SELECT * FROM hist3 ORDER BY c_custkey, valid_from
"""


STREAM_CDC_SCD2_SQL = _cdc_scd2_oracle_sql()


# --- T25: incremental JOIN view maintenance ------------------------

_JOIN_COLS = [
    "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
    "c_mktsegment",
]


def _join_inputs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """(A, ΔA, B, ΔB) of the T25/ST17 join view: A/ΔA = orders
    before / from 1998-01-01, B/ΔB = customers whose custkey % 10 is
    nonzero / zero."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("od"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        orders.where(F.col("od") < "1998-01-01"),
        orders.where(F.col("od") >= "1998-01-01"),
        cust.where(F.col("c_custkey") % 10 != 0),
        cust.where(F.col("c_custkey") % 10 == 0),
    )


def _join_view(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """One term of the delta rule: fact ⋈ dim on the customer key."""
    return fact.join(dim, fact.o_custkey == dim.c_custkey).select(*_JOIN_COLS)


def _join_report(view: DataFrame) -> DataFrame:
    """Orders and exact DECIMAL money per (segment, status) of the
    maintained view (the T23 sf1 lesson)."""
    from etl_npl_pipeline_spark.functions.exact import dsum, money

    return (
        view.groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(money("o_totalprice")).alias("sum_total"),
        )
        .orderBy("c_mktsegment", "o_orderstatus")
    )


def join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T25 (r13): delta-rule incremental maintenance of a JOIN view
    — the other half of IVM (T23 maintains an aggregate; real
    materialized views are usually join+aggregate). The view is
    orders ⋈ customer; both sides receive a late batch, and the
    refresh applies the classic decomposition
        (A ∪ ΔA) ⋈ (B ∪ ΔB)
          = A⋈B  ∪  ΔA⋈B  ∪  A⋈ΔB  ∪  ΔA⋈ΔB
    so the materialized A⋈B rows are read back, never recomputed.
    The contract splits deterministically: ΔA = orders from 1998-01
    on (the synthetic tail), ΔB = every custkey % 10 == 0 (a
    late-arriving dimension backfill — its orders are MISSING from
    the base view and appear on refresh, the real-world case that
    breaks naive "fact-side-only" IVM).

    Scale shape: each delta term joins a SMALL delta against a big
    table — Catalyst broadcasts the delta side, so the refresh
    never shuffles orders or customer (verified: the base
    materialization is the only exchange-heavy job; delta joins are
    BroadcastHashJoin). Refresh cost is O(|ΔA| + |ΔB|·selectivity +
    |view partials|), not O(A⋈B). Money aggregates as exact DECIMAL
    (the T23 sf1 lesson). The oracle recomputes the full join from
    scratch; equality IS the IVM correctness statement."""
    a, da, b, db = _join_inputs(spark, sf_dir)
    tmp = sf_scratch_dir("join_incremental", sf_dir)
    _join_view(a, b).write.parquet(f"{tmp}/state")
    state = spark.read.parquet(f"{tmp}/state")
    refreshed = (
        state
        .unionByName(_join_view(da, b))
        .unionByName(_join_view(a, F.broadcast(db)))
        .unionByName(_join_view(da, db))
    )
    return _join_report(refreshed)


JOIN_INCREMENTAL_SQL = """
SELECT c.c_mktsegment, o.o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
           AS sum_total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment, o.o_orderstatus
ORDER BY c_mktsegment, o_orderstatus
"""


# --- ST17: streaming incremental JOIN maintenance ------------------


def stream_join_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST17 (r13): the T25 delta-rule JOIN refresh as a STREAM —
    the trilogy doctrine (batch / incremental / streaming) applied
    to view maintenance: the materialized orders ⋈ customer base
    persists once; the late dimension backfill lands as a one-time
    A⋈ΔB delta; then the fact tail arrives as four file
    micro-batches and each batch writes ONLY its own join delta
    (ΔA_b ⋈ (B ∪ ΔB), delta side broadcast) to a batch-id-versioned
    dir — at-least-once replay OVERWRITES its own dir (the ST12
    idempotence mechanism), so the refreshed view is exactly-once
    and batch-packing-independent. History is never re-joined; the
    oracle recomputes the full join from scratch, and equality IS
    the maintenance-correctness statement (same report shape as
    T25)."""
    a, da, b, db = _join_inputs(spark, sf_dir)
    tmp = sf_scratch_dir("stream_join_incremental", sf_dir)
    # the materialized base view + the one-time dim-backfill delta
    _join_view(a, b).write.parquet(f"{tmp}/state")
    _join_view(a, F.broadcast(db)).write.parquet(f"{tmp}/dim_backfill")
    # fact tail staged as 4 slices => 4 real micro-batches
    stream = staged_stream(da, F.pmod("o_orderkey", 4), 4, f"{tmp}/in")
    # B ∪ ΔB materialized ONCE (r14, guide §2.4): each of the four
    # micro-batches broadcasts the full dimension, and without the
    # checkpoint every batch re-ran BOTH customer scans (2 scans x 4
    # batches). The union is dim-sized (tiny); the first batch pays
    # one materialization, the rest broadcast the persisted blocks.
    full_dim = b.unionByName(db).localCheckpoint(eager=False)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        _join_view(batch_df, F.broadcast(full_dim)).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/deltas/b={batch_id}")

    drain(
        stream, "stream_join_incremental", sink=sink, checkpoint=f"{tmp}/ckpt"
    )
    view = (
        spark.read.parquet(f"{tmp}/state")
        .unionByName(spark.read.parquet(f"{tmp}/dim_backfill"))
        .unionByName(
            spark.read.option("basePath", f"{tmp}/deltas").parquet(
                f"{tmp}/deltas"
            ).select(*_JOIN_COLS)
        )
    )
    return _join_report(view)


STREAM_JOIN_INCREMENTAL_SQL = JOIN_INCREMENTAL_SQL
