"""Checkpoint-recovery contract: kill a drain mid-stream, restart
from the same checkpoint, and the final result equals the batch
oracle exactly-once — nothing lost (state restores from the state
store), nothing double-counted (committed batches don't replay;
replayed uncommitted batches land idempotently).

Targets the two production-shaped sinks:
- ST6 totals (applyInPandasWithState) through ``drain`` with a
  per-batch overwrite sink — the resumed stateful operator must
  carry pre-crash state.
- ST7 MOR upsert (foreachBatch + epoch manifest) — the resumed
  drain must complete the table to the batch-upsert oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql.streaming.state import GroupStateTimeout

from etl_npl_pipeline_spark import sinks
from etl_npl_pipeline_spark.sources.tables import load_table
from etl_npl_pipeline_spark.streaming.events import (
    _TWS_OUT,
    _user_totals_fn,
    drain,
    stream_upsert_mor,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _multi_file_source(spark, sf_dir, out, n_files=6):
    """events split across n_files parquet files so maxFilesPerTrigger=1
    yields a multi-batch drain with a kill point in the middle."""
    (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            "event_type",
            (F.col("value").cast("decimal(12,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(out)
    )
    return (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, cents long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )


def _totals_stream(src):
    return src.select("user_id", "cents").groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        outputStructType=_TWS_OUT,
        stateStructType="n BIGINT, cents BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _overwrite_sink(out_root):
    # a replayed batch_id overwrites its own dir: exactly-once output
    def sink(batch_df, batch_id):
        target = f"{out_root}/batch_id={batch_id}"
        batch_df.write.mode("overwrite").parquet(target)

    return sink


def _fold_totals(spark, out_root):
    # update mode emits a user's running state once per batch it
    # appears in; the max over (n_events, cents) is the final state
    return (
        spark.read.parquet(out_root)
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "cents")).alias("s"))
        .select("user_id", F.col("s.n_events").alias("n_events"), F.col("s.cents").alias("cents"))
    )


def test_stateful_totals_survive_mid_drain_kill(spark, sf_dir, tmp_path):
    src_dir = str(tmp_path / "src")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # first attempt dies before batch 3 commits
    with pytest.raises(Exception, match="injected failure|Injected|STREAM"):
        drain(
            _totals_stream(_multi_file_source(spark, sf_dir, src_dir)),
            "recovery_totals_crash",
            output_mode="update",
            sink=_overwrite_sink(out_root),
            checkpoint=ckpt,
            fail_at_batch=3,
        )

    # restart from the SAME checkpoint: resumes at batch 3 with
    # restored per-user state; earlier committed batches do not rerun
    drain(
        _totals_stream(
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, cents long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        ),
        "recovery_totals_resume",
        output_mode="update",
        sink=_overwrite_sink(out_root),
        checkpoint=ckpt,
    )

    got = _rows(_fold_totals(spark, out_root))
    expected = _rows(
        spark.read.parquet(src_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("cents"),
        )
    )
    assert got == expected


def test_resume_skips_committed_batches(spark, sf_dir, tmp_path):
    """The resumed query must start at the failed batch, not batch 0 —
    the checkpoint's committed offsets are honored."""
    src_dir = str(tmp_path / "src")
    out_root = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    from etl_npl_pipeline_spark.streaming.events import DRAIN_PROGRESS

    with pytest.raises(Exception, match="injected failure|STREAM"):
        drain(
            _totals_stream(_multi_file_source(spark, sf_dir, src_dir)),
            "recovery_skip_crash",
            output_mode="update",
            sink=_overwrite_sink(out_root),
            checkpoint=ckpt,
            fail_at_batch=2,
        )
    drain(
        _totals_stream(
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, cents long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        ),
        "recovery_skip_resume",
        output_mode="update",
        sink=_overwrite_sink(out_root),
        checkpoint=ckpt,
    )
    # 6 source files → batches 0..5; crash before 2 → resume runs 2..5
    resumed = DRAIN_PROGRESS["recovery_skip_resume"]["batches"]
    assert resumed <= 4, f"resume reran committed batches ({resumed})"
    got = _rows(_fold_totals(spark, out_root))
    expected = _rows(
        spark.read.parquet(src_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("cents"),
        )
    )
    assert got == expected


def test_mor_upsert_recovers_to_batch_oracle(spark, sf_dir, tmp_path):
    """ST7: kill the MOR drain mid-stream; the restarted drain (same
    checkpoint → same epoch manifest) completes the table to exactly
    the batch last-writer-wins oracle — replayed deltas land on their
    own versions idempotently, committed ones are not re-planned."""
    src_dir = str(tmp_path / "src")
    tbl = str(tmp_path / "mor_tbl")

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    sinks.mor_init(ev.where(F.col("event_id") < 100), tbl)

    _multi_file_source(spark, sf_dir, src_dir)  # writes the files
    updates = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, cents long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .select("event_id", (F.col("cents") / 100.0).alias("value"))
        .where(F.col("event_id") < 400)
    )
    with pytest.raises(Exception, match="injected failure|STREAM"):
        stream_upsert_mor(updates, tbl, fail_at_batch=3)

    stream_upsert_mor(updates, tbl)  # resume, same checkpoint

    got = _rows(sinks.mor_read(spark, tbl, key_cols=["event_id"]))
    batch_updates = (
        spark.read.parquet(src_dir)
        .select("event_id", (F.col("cents") / 100.0).alias("value"))
        .where(F.col("event_id") < 400)
    )
    base = ev.where(F.col("event_id") < 100)
    expected = _rows(
        base.join(batch_updates, "event_id", "left_anti").unionByName(
            batch_updates
        )
    )
    assert got == expected


def test_stream_index_refresh_crash_resume_exactly_once(spark, sf_dir, tmp_path):
    """ST-L59 (r9): the streamed index drain must survive a crash
    between micro-batches — restart from the same checkpoint resumes
    at the failed batch, every content key lands exactly once in the
    manifest lineage, and the post-drain full-probe query equals
    brute force over the union corpus."""
    import os

    from etl_npl_pipeline_spark.operators import ann_index as AI
    from etl_npl_pipeline_spark.operators.similarity import brute_force_topk
    from etl_npl_pipeline_spark.plans import llmdata as L
    from etl_npl_pipeline_spark.streaming.events import (
        staged_stream,
        stream_refresh_index,
    )

    emb = L._emb(spark, sf_dir)
    idx = AI.build_ann_index(
        spark,
        emb.where(F.col("vec_id") % 3 == 0),
        os.path.realpath(sf_dir) + f"#stream-crash-{tmp_path.name}",
        n_clusters=4, pq_m=8, pq_k=16, lsh_planes=4, lsh_tables=3,
    )
    # batch i = the vec_id % 3 == i + 1 third
    vstream = staged_stream(
        emb, F.col("vec_id") % 3 - 1, 2, str(tmp_path / "in")
    )
    checkpoint = str(tmp_path / "_checkpoint")

    with pytest.raises(Exception, match="injected failure|STREAM"):
        stream_refresh_index(vstream, idx, checkpoint, fail_at_batch=1)
    man_mid = AI.read_manifest(idx)
    assert len(man_mid["appends"]) == 1  # batch 0 landed, batch 1 did not

    stream_refresh_index(vstream, idx, checkpoint)  # resume
    man = AI.read_manifest(idx)
    keys = [a["batch_key"] for a in man["appends"]]
    assert len(keys) == 2 and len(set(keys)) == 2

    queries = emb.where(F.col("vec_id") < L.ANN_N_QUERIES)
    got = [
        tuple(r)
        for r in AI.ivf_query(spark, idx, queries, k=L.ANN_K, n_probe=4)
        .orderBy("query_id", "rank").collect()
    ]
    want = [
        tuple(r)
        for r in brute_force_topk(queries, emb, k=L.ANN_K)
        .orderBy("query_id", "rank").collect()
    ]
    assert got == want

    import shutil

    shutil.rmtree(idx, ignore_errors=True)


def test_bucketed_interval_join_is_exact_at_boundaries(spark):
    """r9 skew fix pin: the (user, time-bucket) co-keyed interval
    join (plans.extras._bucketed_click_purchase_join) must emit
    EXACTLY the plain interval join's pairs — exercised on crafted
    events at the bucket/window boundaries (0s, W-1, W, W+1, and
    bucket-edge-crossing offsets), inner and left outer, where an
    off-by-one in the bucket replication would show first."""
    import pyspark.sql.functions as F2

    from etl_npl_pipeline_spark.plans.extras import (
        STREAM_JOIN_BUCKET_SEC,
        _bucketed_click_purchase_join,
    )

    W = STREAM_JOIN_BUCKET_SEC
    base = 1_700_000_000  # not bucket-aligned on purpose? make both:
    cases = []
    cid = 0
    for anchor in (base, base - (base % W), base - (base % W) + W - 1):
        for off in (-1, 0, 1, W - 1, W, W + 1, 2 * W):
            cid += 1
            cases.append((cid, 1, anchor, anchor + off))
    clicks = spark.createDataFrame(
        [(c[0], c[1], c[2]) for c in cases],
        "click_id long, user_id long, sec long",
    ).select(
        "click_id", "user_id",
        F2.timestamp_seconds("sec").alias("click_ts"),
    )
    purchases = spark.createDataFrame(
        [(1000 + c[0], c[1], c[3]) for c in cases],
        "purchase_id long, p_user_id long, sec long",
    ).select(
        "purchase_id", "p_user_id",
        F2.timestamp_seconds("sec").alias("purchase_ts"),
    )
    for how in ("inner", "left_outer"):
        got = sorted(
            tuple(r)
            for r in _bucketed_click_purchase_join(
                spark, None, how, clicks, purchases
            ).collect()
        )
        plain = clicks.join(
            purchases,
            (F2.col("user_id") == F2.col("p_user_id"))
            & (F2.col("purchase_ts") >= F2.col("click_ts"))
            & (
                F2.col("purchase_ts")
                <= F2.col("click_ts") + F2.expr("INTERVAL 30 MINUTES")
            ),
            how,
        ).select("user_id", "click_id", "purchase_id")
        want = sorted(tuple(r) for r in plain.collect())
        assert got == want and len(got) > 0, how
