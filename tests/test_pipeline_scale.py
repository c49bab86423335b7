"""End-to-end pipeline run, skew salting, and bucketed co-located
joins."""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

import pyspark.sql.functions as F
import pytest

from etl_npl_pipeline_spark.operators.skew import salted_join
from etl_npl_pipeline_spark.plans.pipeline import run_full_pipeline
from etl_npl_pipeline_spark.session import scratch_dir
from etl_npl_pipeline_spark.sources.tables import load_table

TMP = scratch_dir("pipeline")


@pytest.fixture(autouse=True)
def _clean():
    shutil.rmtree(TMP, ignore_errors=True)
    yield
    shutil.rmtree(TMP, ignore_errors=True)


def test_full_pipeline_writes_outputs(spark, sf_dir):
    out = run_full_pipeline(spark, sf_dir, TMP, timestamp="20260101_0000")
    segs = spark.read.parquet(out["segments"])
    assert segs.count() > 0
    assert set(segs.select("segment").distinct().toPandas()["segment"]) == {
        "AUTOMOBILE",
        "BUILDING",
        "FURNITURE",
        "HOUSEHOLD",
        "MACHINERY",
    }
    common = spark.read.option("header", "true").csv(out["common"])
    assert common.count() > 0
    assert "flowrate_ratio" in common.columns


def test_salted_join_matches_plain_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    plain = li.join(supp, li.l_suppkey == supp.s_suppkey).count()
    salted = salted_join(
        li, supp.withColumnRenamed("s_suppkey", "l_suppkey"), on="l_suppkey",
        buckets=4,
    ).count()
    assert salted == plain


def test_salting_spreads_hot_key(spark):
    # one key carries 99% of rows — salted join must distribute it
    fact = spark.range(0, 1000).select(
        F.when(F.col("id") < 990, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame([(7, "hot"), (995, "cold")], "k LONG, name STRING")
    out = salted_join(fact, dim, on="k", buckets=8)
    assert out.count() == 991
    # deterministic: same result on re-execution (retry safety)
    assert out.count() == 991


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Bucketing both sides on the join key co-locates the join:
    the physical plan must contain no Exchange — at 100 TB this is
    the difference between a network-bound and a local join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # a stale warehouse dir from a previous session blocks
    # saveAsTable even after DROP (catalog entry is gone, dir isn't)
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for table in ("b_orders", "b_lineitem"):
        shutil.rmtree(os.path.join(warehouse, table), ignore_errors=True)
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("b_orders"))
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("b_lineitem"))
    j = (
        spark.table("b_lineitem")
        .join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    # the join itself must not shuffle either side (the final
    # small agg exchange is fine)
    join_part = plan.split("SortMergeJoin")[-1] if "SortMergeJoin" in plan else plan
    assert "bucketed: true" in plan or "Bucketed: true" in plan or "SelectedBucketsCount" in plan
    sides = plan.split("SortMergeJoin")
    if len(sides) > 1:
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        assert "Exchange hashpartitioning(o_orderkey" not in plan


def test_connected_components_labels_clusters(spark):
    from etl_npl_pipeline_spark.operators.components import connected_components

    # two chains + an isolated pair: {1,2,3,4}, {10,11}, {20,21,22}
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)],
        ["src", "dst"],
    )
    got = {
        (r.node, r.component)
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_sketch_profile_tracks_exact(spark, sf_dir):
    """The sketch profile emits its accuracy contract in-query:
    every group's HLL++ distinct count and sketch median must sit
    inside the exact-side bounds (users_ok / p50_ok true), and the
    exact row counts must match a plain groupBy."""
    from etl_npl_pipeline_spark.plans.profiling import profile_sketches

    ev = load_table(spark, sf_dir, "events")
    exact_n = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rows = profile_sketches(spark, sf_dir).collect()
    assert len(rows) == len(exact_n)
    for r in rows:
        assert r.users_ok and r.p50_ok, r
        assert r.n == exact_n[r.event_type], r


def test_dq_checks_count_crafted_violations(spark):
    from etl_npl_pipeline_spark.operators import quality as Q

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (1, -5.0, "B"), (None, 20.0, "A"), (3, 999.0, "Z")],
        "k INT, v DOUBLE, s STRING",
    )
    dim = spark.createDataFrame([(1,), (2,)], "dk INT")
    out = {
        r.rule: r.n_violations
        for r in Q.run_checks(
            df,
            [
                Q.not_null("k"),
                Q.unique("k"),
                Q.in_range("v", 0, 100),
                Q.in_set("s", ["A", "B"]),
                Q.ref("k", dim, "dk"),
            ],
        ).collect()
    }
    assert out == {
        "not_null_k": 1,
        "unique_k": 2,        # k=1 twice + null row (COUNT DISTINCT skips nulls)
        "range_v": 2,         # -5 and 999
        "set_s": 1,           # Z
        "ref_k": 2,           # null and 3 dangle
    }, out


def test_scd2_apply_versions_changes(spark):
    from etl_npl_pipeline_spark.operators.quality import scd2_apply

    cur = spark.createDataFrame(
        [
            (1, "alice", "gold", "2024-01-01", "9999-12-31"),
            (2, "bob", "silver", "2024-01-01", "9999-12-31"),
            (2, "bob", "bronze", "2023-01-01", "2024-01-01"),  # history
            (3, "carol", "gold", "2024-01-01", "9999-12-31"),
        ],
        "id INT, name STRING, tier STRING, valid_from STRING, valid_to STRING",
    )
    # alice changes tier; dave is new; bob/carol untouched
    changes = spark.createDataFrame(
        [(1, "alice", "platinum"), (4, "dave", "silver"), (3, "carol", "gold")],
        "id INT, name STRING, tier STRING",
    )
    out = scd2_apply(
        cur, changes, key_cols=["id"], attr_cols=["name", "tier"],
        batch_ts="2024-06-01",
    )
    got = {tuple(r) for r in out.collect()}
    assert got == {
        (1, "alice", "gold", "2024-01-01", "2024-06-01"),      # closed
        (1, "alice", "platinum", "2024-06-01", "9999-12-31"),  # new open
        (2, "bob", "silver", "2024-01-01", "9999-12-31"),      # untouched
        (2, "bob", "bronze", "2023-01-01", "2024-01-01"),      # history
        (3, "carol", "gold", "2024-01-01", "9999-12-31"),      # no-op change
        (4, "dave", "silver", "2024-06-01", "9999-12-31"),     # insert
    }, got
    # idempotent: re-applying the same batch changes nothing
    again = scd2_apply(
        out, changes, key_cols=["id"], attr_cols=["name", "tier"],
        batch_ts="2024-06-01",
    )
    assert {tuple(r) for r in again.collect()} == got


def test_connected_components_long_chain_converges(spark):
    """A 40-node chain has diameter 39 — one-hop label relaxation
    would need 39 rounds; the star rewrite must converge well inside
    the default cap."""
    from etl_npl_pipeline_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 139)], ["src", "dst"]
    )
    got = {
        (r.node, r.component)
        for r in connected_components(edges, "src", "dst").collect()
    }
    assert got == {(n, 100) for n in range(100, 140)}
