"""run_with_metrics: the byte- and job-level capture that backs the
host-independent gates (shuffle-byte linearity at sf1, spill
accounting in bench, the per-contract job ledger)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_npl_pipeline_spark.metrics import run_with_metrics


def test_captures_shuffle_and_input_bytes(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    m = run_with_metrics(spark, df)
    assert m["stages"] >= 2  # scan+partial, final agg
    assert m["input_bytes"] > 0  # parquet scan measured
    assert m["shuffle_write_bytes"] > 0
    # exchange conservation: what was written is what gets read
    assert m["shuffle_read_bytes"] == m["shuffle_write_bytes"]
    assert m["num_tasks"] > 0 and m["wall_sec"] > 0


def test_map_only_plan_shuffles_nothing(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/region.parquet").select("r_name")
    m = run_with_metrics(spark, df)
    assert m["shuffle_write_bytes"] == 0
    assert m["shuffle_read_bytes"] == 0
    assert m["input_bytes"] > 0


def test_deltas_isolated_between_runs(spark, sf_dir):
    """Stage-ID keying: a second measurement must not re-count the
    first run's stages (cumulative-total deltas would)."""
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderstatus")
        .count()
    )
    m1 = run_with_metrics(spark, df)
    m2 = run_with_metrics(spark, df)
    assert m1["shuffle_write_bytes"] > 0
    # same plan, same data -> same bytes (not 2x, not 0)
    assert m2["shuffle_write_bytes"] == m1["shuffle_write_bytes"]


def test_no_spill_at_test_scale(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{sf_dir}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.sum("l_extendedprice").alias("v"))
    )
    m = run_with_metrics(spark, df)
    assert m["memory_spill_bytes"] == 0
    assert m["disk_spill_bytes"] == 0


def test_counts_stream_micro_batch_jobs(spark, sf_dir):
    """A streaming drain runs its micro-batch jobs in the stream
    query's own job group: the job count covers every group, so it
    sees them where a count of group-less jobs does not."""
    from etl_npl_pipeline_spark.streaming.events import (
        DRAIN_PROGRESS,
        stream_windowed_counts,
    )

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    m = run_with_metrics(spark, lambda: stream_windowed_counts(spark, sf_dir))
    groupless = len(set(tracker.getJobIdsForGroup()) - before)
    batches = DRAIN_PROGRESS["stream_events_window"]["batches"]
    assert m["jobs"] - groupless >= batches >= 1
