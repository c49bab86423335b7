"""Pin a sharp Spark engine constraint found by the r6 time-shift
probe: the streaming watermark initializes at EPOCH 0 and only
advances, so append-mode stateful aggregation silently drops every
event with event time before 1970-01-01 UTC as "late" in its first
micro-batch — while the identical batch aggregation (and a
complete-mode drain, where late filtering is disabled) keeps them.

This test asserts the CURRENT engine behavior so a future Spark
version changing it surfaces loudly, and so the divergence between
batch twins and append-mode streams on pre-epoch data is recorded
as a known contract boundary, not discovered in production.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest
import pyspark.sql.functions as F

from etl_npl_pipeline_spark.streaming.events import (
    DRAIN_PROGRESS,
    drain,
    events_stream,
)


@pytest.fixture(scope="module")
def epoch_dir(tmp_path_factory, sf_dir):
    """events shifted so the span straddles 1970-01-01 (negative and
    positive epoch seconds in one stream)."""
    out = str(tmp_path_factory.mktemp("epoch"))
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"]:
        shutil.copy(f"{sf_dir}/{t}.parquet", f"{out}/{t}.parquet")
    con.execute(
        f"""
        CREATE VIEW ev AS
        SELECT * FROM read_parquet('{sf_dir}/events.parquet')
        """
    )
    con.execute(
        f"""
        COPY (SELECT event_id,
                ts - (SELECT MIN(ts) FROM ev)
                   + TIMESTAMP '1969-12-28 00:00:00' AS ts,
                user_id, event_type, value, props
              FROM ev)
        TO '{os.path.join(out, "events.parquet")}' (FORMAT PARQUET)
        """
    )
    return out


def _windowed(ev):
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("win_start"), "n")
    )


def test_append_mode_drops_pre_epoch_events(spark, epoch_dir):
    from etl_npl_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, epoch_dir, "events")
    n_pre = ev.where(F.col("ts") < F.lit("1970-01-01")).count()
    assert n_pre > 0, "fixture must contain pre-epoch events"

    # batch handles negative-epoch windows fine
    batch = (
        ev.groupBy(F.window("ts", "15 minutes").alias("w"))
        .count()
        .select(F.col("w.start").cast("long").alias("win_start"))
    )
    assert batch.where(F.col("win_start") < 0).count() > 0

    # append-mode stream drops every pre-epoch row as late (initial
    # watermark = 0); no negative window can ever emit
    drained = drain(
        _windowed(events_stream(spark, epoch_dir)), "pre_epoch_probe"
    )
    assert drained.where(F.col("win_start") < 0).count() == 0
    # ...and the drain's progress counts the drops (state-operator
    # rows, i.e. late (window, event_type) groups, not raw events)
    assert DRAIN_PROGRESS["pre_epoch_probe"]["late_rows_dropped"] > 0

    # complete mode disables late filtering and keeps them
    drained_c = drain(
        _windowed(events_stream(spark, epoch_dir)),
        "pre_epoch_probe_complete",
        output_mode="complete",
    )
    assert drained_c.where(F.col("win_start") < 0).count() > 0
    assert DRAIN_PROGRESS["pre_epoch_probe_complete"]["late_rows_dropped"] == 0
