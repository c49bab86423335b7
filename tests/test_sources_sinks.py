"""Unit tests for file/REST sources, sinks, and reshape operators
that aren't fully exercised through the oracle queries."""

from __future__ import annotations

import json
import shutil
from datetime import date

import pyspark.sql.functions as F
import pytest

from etl_npl_pipeline_spark.operators import ffill, melt, pivot_wide, segment
from etl_npl_pipeline_spark.session import scratch_dir
from etl_npl_pipeline_spark.sinks import write_segmented, write_timestamped
from etl_npl_pipeline_spark.sources.files import read_csv
from etl_npl_pipeline_spark.sources.rest import (
    fetch_observations,
    flatten_structs,
    month_chunks,
)

TMP = scratch_dir("tests")


@pytest.fixture(autouse=True)
def _clean_tmp():
    shutil.rmtree(TMP, ignore_errors=True)
    yield
    shutil.rmtree(TMP, ignore_errors=True)


def test_month_chunks_cover_range():
    chunks = month_chunks(date(2013, 11, 15), date(2014, 2, 10))
    assert chunks[0] == (date(2013, 11, 15), date(2013, 11, 30))
    assert chunks[-1][1] == date(2014, 2, 10)
    assert len(chunks) == 4


def test_fetch_observations_chunks_and_flattens(spark):
    calls = []

    def fake_fetcher(url, params):
        calls.append(params)
        return json.dumps(
            {
                "result": {
                    "series": [
                        {
                            "observations": [
                                {
                                    "period_start": params["start_period"],
                                    "value": "1.5",
                                }
                            ]
                        }
                    ]
                }
            }
        )

    df = fetch_observations(
        spark,
        fake_fetcher,
        "https://example.invalid/observations",
        "FINPQ00108",
        date(2020, 1, 1),
        date(2020, 4, 1),
    )
    assert len(calls) == 3  # one per month
    assert df.count() == 3
    assert set(df.columns) == {"period_start", "value"}


def test_flatten_structs(spark):
    df = spark.createDataFrame(
        [(1, {"a": 2, "b": {"c": 3}})], "id INT, s STRUCT<a INT, b STRUCT<c INT>>"
    )
    flat = flatten_structs(df)
    assert set(flat.columns) == {"id", "s_a", "s_b_c"}
    assert flat.collect()[0].s_b_c == 3


def test_csv_read_with_schema(spark):
    df = spark.createDataFrame([(1, "x"), (2, "y")], "k INT, v STRING")
    df.write.mode("overwrite").option("header", "true").csv(f"{TMP}/c")
    back = read_csv(spark, f"{TMP}/c", schema="k INT, v STRING")
    assert sorted(r.k for r in back.collect()) == [1, 2]


def test_write_segmented_single_pass(spark, sf_dir):
    from etl_npl_pipeline_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    target = write_segmented(
        cust, f"{TMP}/seg", "c_mktsegment", timestamp="20260101_0000"
    )
    back = spark.read.parquet(target)
    assert back.count() == cust.count()
    # partition column survives the round trip
    assert "c_mktsegment" in back.columns


def test_write_timestamped_csv(spark):
    df = spark.createDataFrame([(1, 2.5)], "k INT, v DOUBLE")
    target = write_timestamped(df, f"{TMP}/ts", "housing", timestamp="20260101_0000")
    assert target.endswith("housing_processed_20260101_0000")
    back = spark.read.option("header", "true").csv(target)
    assert back.count() == 1


def test_melt_pivot_inverse(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], "id INT, a DOUBLE, b DOUBLE")
    long = melt(df, ["id"], ["a", "b"], "k", "v")
    assert long.count() == 2
    wide = pivot_wide(long, ["id"], "k", "v", values=["a", "b"])
    row = wide.collect()[0]
    assert (row.a, row.b) == (10.0, 20.0)


def test_ffill_partitioned(spark):
    df = spark.createDataFrame(
        [(1, 1, None), (1, 2, 5.0), (1, 3, None), (2, 1, None)],
        "g INT, t INT, v DOUBLE",
    )
    out = ffill(df, ["v"], order_by="t", partition_by=["g"])
    got = {(r.g, r.t): r.v for r in out.collect()}
    assert got[(1, 3)] == 5.0  # filled forward
    assert got[(1, 1)] is None  # nothing before it
    assert got[(2, 1)] is None  # other partition untouched


def test_segment_contains(spark):
    df = spark.createDataFrame(
        [("AUTOMOBILE",), ("BUILDING",), ("MACHINERY",)], "seg STRING"
    )
    parts = segment(df, "seg", ["AUTO", "BUILD"])
    assert parts["AUTO"].count() == 1
    assert parts["BUILD"].count() == 1


def test_multimodal_real_codec_gate(spark, sf_dir):
    from etl_npl_pipeline_spark.operators.multimodal import (
        _HAS_PIL,
        build_media_frame,
        decode_media,
    )
    from etl_npl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(5)
    media = build_media_frame(docs, "text", "doc_id")
    if not _HAS_PIL:
        with pytest.raises(NotImplementedError):
            decode_media(media, use_real_codec=True)
    out = decode_media(media).collect()
    assert len(out) == 5
    assert all(r.width == r.n_bytes % 640 + 1 for r in out)


def test_upsert_by_partition_replaces_only_touched(spark):
    from etl_npl_pipeline_spark.sinks import upsert_by_partition

    base = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10)], "part STRING, v INT"
    )
    upsert_by_partition(base, f"{TMP}/ups", "part")
    # new batch touches only partition 'a'
    batch = spark.createDataFrame([("a", 99)], "part STRING, v INT")
    upsert_by_partition(batch, f"{TMP}/ups", "part")
    back = spark.read.parquet(f"{TMP}/ups")
    got = {(r.part, r.v) for r in back.collect()}
    assert got == {("a", 99), ("b", 10)}, got


def test_merge_upsert_row_level(spark):
    import glob
    import os

    from etl_npl_pipeline_spark.sinks import merge_upsert

    base = spark.createDataFrame(
        [("d1", 1, "old1"), ("d1", 2, "old2"), ("d2", 3, "old3")],
        "day STRING, k INT, payload STRING",
    )
    path = f"{TMP}/merge"
    base.write.mode("overwrite").partitionBy("day").parquet(path)
    untouched_before = sorted(glob.glob(f"{path}/day=d2/*.parquet"))
    mtimes_before = [os.path.getmtime(f) for f in untouched_before]

    # update k=1, insert k=9 — both land in partition d1
    updates = spark.createDataFrame(
        [("d1", 1, "NEW1"), ("d1", 9, "NEW9")],
        "day STRING, k INT, payload STRING",
    )
    merge_upsert(spark, path, updates, key_cols=["day", "k"], partition_col="day")

    got = {(r.day, r.k, r.payload) for r in spark.read.parquet(path).collect()}
    assert got == {
        ("d1", 1, "NEW1"), ("d1", 2, "old2"), ("d1", 9, "NEW9"),
        ("d2", 3, "old3"),
    }, got
    # the untouched partition's files were never rewritten
    untouched_after = sorted(glob.glob(f"{path}/day=d2/*.parquet"))
    assert untouched_after == untouched_before
    assert [os.path.getmtime(f) for f in untouched_after] == mtimes_before

    # idempotent: re-running the same batch converges to same state
    merge_upsert(spark, path, updates, key_cols=["day", "k"], partition_col="day")
    again = {(r.day, r.k, r.payload) for r in spark.read.parquet(path).collect()}
    assert again == got


def test_pandas_on_spark_compat_matches_native(spark, sf_dir):
    """The pandas-idiom compat layer must agree with the native
    DataFrame plans (migration-bridge correctness)."""
    import warnings

    warnings.filterwarnings("ignore")
    from etl_npl_pipeline_spark import compat
    from etl_npl_pipeline_spark.sources.tables import load_table

    got = {
        (r["quarter"], r["n"])
        for _, r in compat.quarterly_avg_pandas_style(sf_dir)
        .to_pandas()
        .iterrows()
    }
    native = {
        (r.quarter, r.n)
        for r in load_table(spark, sf_dir, "orders")
        .groupBy(
            F.concat(
                F.year("o_orderdate").cast("string"),
                F.lit("-Q"),
                F.quarter("o_orderdate").cast("string"),
            ).alias("quarter")
        )
        .agg(F.count("o_orderkey").alias("n"))
        .collect()
    }
    assert got == native

    rt = compat.melt_pivot_roundtrip_pandas_style(sf_dir).to_pandas()
    assert list(rt["n_nationkey"]) == sorted(rt["n_nationkey"])
    assert len(rt) == 10


def test_streaming_foreachbatch_merge_upsert(spark, sf_dir):
    """Continuous incremental load: a stream drained through
    foreachBatch, each micro-batch row-level-merged into a parquet
    table — the end-to-end shape of a production incremental
    pipeline without a transactional table format."""
    from etl_npl_pipeline_spark.sinks import merge_upsert
    from etl_npl_pipeline_spark.sources.tables import load_table
    from etl_npl_pipeline_spark.streaming.events import events_stream

    path = f"{TMP}/stream_merge"
    ev = events_stream(spark, sf_dir).select(
        "event_id",
        "user_id",
        "value",
        F.to_date("ts").cast("string").alias("day"),
    )

    def apply_batch(batch_df, _batch_id):
        # last-writer-wins per event_id within the batch, then merge
        merge_upsert(
            batch_df.sparkSession,
            path,
            batch_df.dropDuplicates(["event_id"]),
            key_cols=["event_id"],
            partition_col="day",
        )

    q = (
        ev.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{TMP}/ckpt")
        .start()
    )
    q.awaitTermination()

    batch_truth = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .distinct()
        .count()
    )
    merged = spark.read.parquet(path)
    assert merged.count() == batch_truth
    assert merged.select("event_id").distinct().count() == batch_truth
