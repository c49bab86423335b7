"""StreamingQueryProgress capture + state-bound gate.

Every drain records a progress summary in
streaming.events.DRAIN_PROGRESS (batches, input rows, max/final
state rows). The gate turns the architecture's central streaming
claim — "state expires with the watermark" — from a docstring into
an assertion: the append-mode windowed aggs (ST8/ST10/ST11) must
finish their drain with ZERO retained state rows (every window
emitted and evicted), and the stream-stream joins (ST5/ST9) must
keep state within the input size (no unbounded buffering). The
foreachBatch contracts record progress through the same drain, a
staged stream drains one batch per slice in slice order, and the
drain scopes its session confs.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from etl_npl_pipeline_spark.plans import extras, ivm, llmdata
from etl_npl_pipeline_spark.session import scoped_conf, scratch_dir
from etl_npl_pipeline_spark.streaming.events import (
    DRAIN_PROGRESS,
    drain,
    drain_per_batch,
    staged_stream,
)


@pytest.mark.parametrize(
    "label, fn",
    [
        ("stream_session_window", extras.stream_session_window),
        ("stream_windowed_topk", extras.stream_windowed_topk),
        ("stream_anomaly_alerts", extras.stream_anomaly_alerts),
    ],
)
def test_append_mode_aggs_evict_all_state(spark, sf_dir, label, fn):
    fn(spark, sf_dir).collect()
    p = DRAIN_PROGRESS[label]
    assert p["output_mode"] == "append"
    assert p["batches"] >= 1 and p["input_rows"] > 0
    assert p["state_rows_max"] > 0, "agg never held state — not stateful?"
    # THE gate: watermark eviction must leave nothing behind
    assert p["state_rows_last"] == 0, p


@pytest.mark.parametrize(
    "label, fn",
    [
        ("stream_stream_join", extras.stream_stream_join),
        ("stream_stream_left_join", extras.stream_stream_left_join),
    ],
)
def test_stream_joins_keep_state_bounded(spark, sf_dir, label, fn):
    fn(spark, sf_dir).collect()
    p = DRAIN_PROGRESS[label]
    assert p["batches"] >= 1 and p["input_rows"] > 0
    assert p["state_rows_max"] > 0
    # join state buffers rows within the watermark horizon — it can
    # end nonzero (tail rows newer than the final watermark) but must
    # never exceed what was ingested
    assert p["state_rows_last"] <= p["state_rows_max"] <= 2 * p["input_rows"], p


@pytest.mark.parametrize(
    "fn, batches",
    [
        # staged_stream drains one micro-batch per slice
        (ivm.stream_agg_incremental, 4),
        (ivm.stream_cdc_scd2, 3),
        (ivm.stream_join_incremental, 4),
        (llmdata.stream_quality_probe, 4),
        (llmdata.stream_drift_monitor, 4),
        (llmdata.stream_index_refresh, 2),
    ],
    ids=lambda v: getattr(v, "__name__", str(v)),
)
def test_foreach_batch_contracts_record_progress(spark, sf_dir, fn, batches):
    label = fn.__name__
    DRAIN_PROGRESS.pop(label, None)
    fn(spark, sf_dir).collect()
    p = DRAIN_PROGRESS[label]
    assert p["input_rows"] > 0, p
    assert p["batches"] == batches, p


def test_staged_contract_keys_scratch_by_sf_dir(spark, sf_dir, tmp_path):
    # a drive at a second scale factor stages beside the first, not
    # over it: both staged inputs exist after the second drive
    other = tmp_path / "sf_other"
    other.mkdir()
    shutil.copy(os.path.join(sf_dir, "events.parquet"), other)
    root = scratch_dir("stream_agg_incremental")
    try:
        first = ivm.stream_agg_incremental(spark, sf_dir).collect()
        second = ivm.stream_agg_incremental(spark, str(other)).collect()
        for d in (os.path.basename(os.path.realpath(sf_dir)), "sf_other"):
            assert os.listdir(os.path.join(root, d, "in")), d
        assert first == second
    finally:
        shutil.rmtree(os.path.join(root, "sf_other"), ignore_errors=True)


def test_staged_stream_drains_slices_in_order_with_backfill(spark, tmp_path):
    # slice 1 has no rows: it is backfilled, so it still drains as an
    # (empty) batch between slices 0 and 2
    frame = spark.createDataFrame(
        [(i,) for i in (0, 3, 6, 2, 5, 8)], "id long"
    )
    batches = drain_per_batch(
        staged_stream(frame, F.col("id") % 3, 3, str(tmp_path / "in")),
        "staged_stream_probe",
        str(tmp_path / "ckpt"),
        lambda b: sorted(r["id"] for r in b.collect()),
    )
    assert batches == [[0, 3, 6], [], [2, 5, 8]]
    assert DRAIN_PROGRESS["staged_stream_probe"]["batches"] == 3


def test_drain_restores_session_confs(spark, tmp_path):
    sentinels = {
        "spark.sql.shuffle.partitions": "13",
        "spark.sql.codegen.wholeStage": "true",
        "spark.sql.streaming.numRecentProgressUpdates": "77",
    }

    def confs():
        return {k: spark.conf.get(k) for k in sentinels}

    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)

    def stream():
        return spark.readStream.schema("id long").parquet(src)

    with scoped_conf(spark, sentinels):
        with pytest.raises(Exception, match="injected failure|STREAM"):
            drain(
                stream(),
                "conf_probe_failed",
                sink=lambda batch_df, batch_id: None,
                checkpoint=str(tmp_path / "ckpt"),
                fail_at_batch=0,
            )
        assert confs() == sentinels
        assert "conf_probe_failed" in DRAIN_PROGRESS
        assert drain(stream(), "conf_probe_memory").count() == 10
        assert confs() == sentinels

        with pytest.raises(RuntimeError, match="body failed"):
            with scoped_conf(spark, {"spark.sql.shuffle.partitions": "3"}):
                assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
                raise RuntimeError("body failed")
        assert confs() == sentinels


def test_progress_summary_shape():
    # at least one drain ran in this session by now
    assert DRAIN_PROGRESS
    for label, p in DRAIN_PROGRESS.items():
        assert set(p) >= {
            "output_mode", "batches", "input_rows", "duration_ms",
            "state_rows_max", "state_rows_last", "late_rows_dropped",
        }, label
        # throughput derives whenever trigger time was recorded
        if p["duration_ms"] > 0:
            assert p["rows_per_sec"] == round(
                p["input_rows"] / (p["duration_ms"] / 1000.0), 1
            ), label
