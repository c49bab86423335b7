"""ST14 late-data proof (r13, VERDICT r12 #7): the stream_ohlc_bars
docstring claims "late/out-of-order arrivals within the watermark
fold in correctly" — this test proves it with a controlled
multi-batch drain, the same injection treatment ST6/ST7 got:

* batch 0 establishes hour-0 and hour-1 rows (max event time 23:50,
  so the watermark advances to 23:40);
* batch 1 delivers an OUT-OF-ORDER row inside the watermark
  (23:55 — older than nothing yet seen in ITS batch but late
  relative to batch 0's 23:50 bar close): it must FOLD into the
  still-open hour-1 bar, where it is both the low and the close;
* batch 2 delivers a TOO-LATE row aimed at hour-0 (22:30, behind
  the 23:40 late-events watermark active by then): it must be
  DROPPED — hour-0's bar was already emitted in append mode, and
  Spark must neither re-emit hour-0 nor spawn a duplicate bar;
* batches 3/4 advance the watermark so hours 0..2 all emit.

Engine semantics pinned here (SPARK-40925, Spark 3.4+): a
micro-batch filters late events against the PREVIOUS batch's
watermark while evicting state against the CURRENT one — the
late-data filter lags eviction by exactly one batch. A too-late row
arriving in the same batch that advances the watermark past its
window is therefore still admitted; one batch later it is dropped
(observable in numRowsDroppedByWatermark). The fixture places the
too-late row two batches after its window closed so the drop is
deterministic.

Oracle = the batch OHLC aggregation over exactly the
watermark-ADMITTED set (all rows minus the too-late one) — batch
semantics on admitted rows, tie-breaks included.

The batches are staged with ``streaming.events.staged_stream``
(slice = batch index), which drains batch i as slice i, and the
bars are the contract's own aggregate (``extras._ohlc_bars``).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_npl_pipeline_spark.plans.extras import _ohlc_bars
from etl_npl_pipeline_spark.streaming.events import (
    DRAIN_PROGRESS,
    drain,
    staged_stream,
)

H = 3600  # seconds per hour bucket
BASE = 1_700_000_000 - (1_700_000_000 % H)  # aligned hour boundary


def _ts(hour: int, minute: int) -> int:
    return BASE + hour * H + minute * 60


# (event_id, event_type, ts_epoch_sec, value), grouped per batch
LATE_OK = (5, "tick", _ts(1, 55), 15.0)   # out-of-order: h1 low+close
TOO_LATE = (6, "tick", _ts(0, 30), 1.0)   # h0 closed: must drop
BATCHES = [
    [
        (1, "tick", _ts(0, 5), 10.0),   # h0 open
        (2, "tick", _ts(0, 40), 14.0),  # h0 high + close
        (3, "tick", _ts(1, 10), 20.0),  # h1 open + high
        (4, "tick", _ts(1, 50), 18.0),  # watermark -> 23:40 after this
    ],
    [LATE_OK, (7, "tick", _ts(2, 10), 30.0)],  # folds; h0 evicted here
    [TOO_LATE, (8, "tick", _ts(3, 30), 40.0)],  # dropped; h1 evicted
    [(9, "tick", _ts(5, 0), 50.0)],             # h2 evicted
    [(10, "tick", _ts(7, 0), 60.0)],            # h3+h5 progress tail
]


def test_ohlc_append_folds_late_and_drops_too_late(spark, tmp_path):
    src = staged_stream(
        spark.createDataFrame(
            [
                (i, eid, et, ts * 1_000_000, v)
                for i, rows in enumerate(BATCHES)
                for eid, et, ts, v in rows
            ],
            "batch int, event_id long, event_type string, ts_us long,"
            " value double",
        ).select(
            "batch",
            "event_id",
            "event_type",
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
            "value",
        ),
        F.col("batch"),
        len(BATCHES),
        str(tmp_path / "ohlc_src"),
    )
    rows = drain(_ohlc_bars(src), "ohlc_late_proof").collect()
    # append must emit each closed window EXACTLY once — a re-emitted
    # hour-0 (duplicate key) would mean the too-late row re-opened
    # evicted state instead of being dropped
    buckets = [r["bucket_epoch"] for r in rows]
    assert len(buckets) == len(set(buckets)), sorted(buckets)
    got = {
        r["bucket_epoch"]: (
            r["open"], r["high"], r["low"], r["close"], r["n"]
        )
        for r in rows
    }

    # the engine must REPORT the drop (numRowsDroppedByWatermark)
    progress = DRAIN_PROGRESS["ohlc_late_proof"]
    assert progress["late_rows_dropped"] == 1, progress

    # oracle: batch OHLC over the watermark-ADMITTED set
    admitted = [r for b in BATCHES for r in b if r != TOO_LATE]
    batch_ev = spark.createDataFrame(
        [(eid, et, ts * 1_000_000, v) for eid, et, ts, v in admitted],
        "event_id long, event_type string, ts_us long, value double",
    ).select(
        "event_id", "event_type",
        F.timestamp_micros(F.col("ts_us")).alias("ts"), "value",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", F.date_trunc("hour", "ts"))
    ranked = batch_ev.select(
        "*",
        F.row_number().over(
            w.orderBy(F.asc("ts"), F.asc("event_id"))
        ).alias("rn_a"),
        F.row_number().over(
            w.orderBy(F.desc("ts"), F.desc("event_id"))
        ).alias("rn_d"),
    )
    want_df = (
        ranked.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("bucket")
        )
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(F.col("bucket").cast("long").alias("bucket_epoch"),
                "open", "high", "low", "close", "n")
    )
    want = {
        r["bucket_epoch"]: (
            r["open"], r["high"], r["low"], r["close"], r["n"]
        )
        for r in want_df.collect()
    }

    # hours 0..2 are closed by the final watermark and must be
    # emitted with EXACT batch-over-admitted semantics
    for hour in (0, 1, 2):
        b = BASE + hour * H
        assert got[b] == want[b], (hour, got.get(b), want[b])

    # the late-but-in-watermark row is hour 1's low AND close —
    # folding is visible, not incidental
    assert got[BASE + H][2] == LATE_OK[3]
    assert got[BASE + H][3] == LATE_OK[3]
    # the too-late row would have been hour 0's low and close
    assert got[BASE][2] != TOO_LATE[3]
    assert got[BASE][4] == 2  # exactly the two admitted h0 rows
