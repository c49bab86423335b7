"""Physical-plan assertions: the properties that make these queries
viable at 100 TB. A regression here usually costs more at scale
than any logic bug — so the plan shape is pinned by test.

(SURVEY §5.4: PushedFilters / ReadSchema pruning / broadcast joins /
single-scan guarantees.)
"""

from __future__ import annotations

import contextlib
import io

import pytest

from etl_npl_pipeline_spark.plans import llmdata, npl, tpch, tpch_extra


def _formatted(df, execute: bool = False) -> str:
    """Full formatted explain (the toString() form truncates
    PushedFilters lists). execute=True lets AQE finalize first."""
    if execute:
        # collect() executes THIS plan object so AQE finalizes it
        # (count() would plan a separate query)
        df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_column_pruning_and_pushdown(spark, sf_dir):
    plan = _formatted(tpch.q1_pricing_summary(spark, sf_dir))
    # only the needed lineitem columns reach the scan
    assert "ReadSchema: struct<l_quantity:double,l_extendedprice:double" in plan
    assert "l_partkey" not in plan
    # the shipdate predicate reaches the parquet reader
    assert "LessThanOrEqual(l_shipdate" in plan


def test_q6_filters_pushed(spark, sf_dir):
    plan = _formatted(tpch.q6_forecast_revenue(spark, sf_dir))
    for pushed in (
        "GreaterThanOrEqual(l_shipdate,1996-01-01",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in plan, f"missing pushdown: {pushed}"


@pytest.mark.parametrize(
    "qfn",
    [
        tpch.q3_shipping_priority,
        tpch.q5_local_supplier,
        tpch.q10_returned_items,
        tpch.q18_large_orders,
        tpch_extra.q14_promo_revenue,
        tpch_extra.q_rollup_region,
    ],
)
def test_dimension_joins_broadcast(qfn, spark, sf_dir):
    plan = _formatted(qfn(spark, sf_dir), execute=True)
    assert "BroadcastHashJoin" in plan
    # no accidental cartesian products
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_npl_quarterly_single_lineitem_scan(spark, sf_dir):
    plan = _formatted(npl.npl_quarterly(spark, sf_dir), execute=True)
    assert plan.count("lineitem.parquet") == 1, (
        "quarterly series must derive from ONE lineitem scan "
        "(window formulation), not a diamond of re-scans"
    )


def test_npl_base_join_prunes_columns(spark, sf_dir):
    plan = _formatted(npl.npl_by_segment(spark, sf_dir))
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double,l_returnflag:string"
        in plan
    )


def test_ann_topk_streams_corpus_no_pair_explosion(spark, sf_dir):
    plan = _formatted(llmdata.ann_topk(spark, sf_dir), execute=True)
    # brute force is a chunk-grid pandas cogroup: each (query-chunk,
    # corpus-chunk) cell is scored as a numpy matrix block, so the
    # transfer is chunk-granular replication and no |Q| x |corpus|
    # row-level product ever materializes in the plan
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_whole_stage_codegen_on_agg_paths(spark, sf_dir):
    # codegen stages appear as "*(n)" markers in the simple plan
    # string (formatted mode doesn't render them)
    df = tpch.q1_pricing_summary(spark, sf_dir)
    # collect() executes THIS plan object (count() builds a new one,
    # leaving this query's AQE un-finalized)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "*(" in plan


def test_dedup_exact_no_cartesian(spark, sf_dir):
    plan = _formatted(llmdata.dedup_exact(spark, sf_dir), execute=True)
    assert "CartesianProduct" not in plan


def test_partitioned_write_prunes_on_read(spark, sf_dir):
    """Hive-partitioned layout + a partition-key filter must show up
    as PartitionFilters on the scan (whole directories skipped) —
    at 100 TB, partition pruning is the first and cheapest filter."""
    import shutil

    from etl_npl_pipeline_spark.session import scratch_dir
    from etl_npl_pipeline_spark.sources.tables import load_table

    tmp = scratch_dir("part_prune")
    shutil.rmtree(tmp, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    import pyspark.sql.functions as F

    (
        ev.withColumn("day", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("day")
        .parquet(tmp)
    )
    back = spark.read.parquet(tmp).where(F.col("day") == "2024-01-03")
    plan = _formatted(back)
    assert "PartitionFilters" in plan
    # the filter must be in PartitionFilters (directory pruning),
    # not only in the row-level PushedFilters
    pf_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "2024-01-03" in pf_line or "day" in pf_line
    assert back.count() > 0
    shutil.rmtree(tmp, ignore_errors=True)


def test_q16_filters_pushed_and_dims_broadcast(spark, sf_dir):
    from etl_npl_pipeline_spark.plans import tpch_rest

    plan = _formatted(tpch_rest.q16_part_supplier_counts(spark, sf_dir))
    # part-attribute filters reach the parquet scan
    assert "In(p_size, [1,4,9,14,19,23,36,45])" in plan or "In(p_size" in plan
    assert "Not(EqualTo(p_brand,Brand#13))" in plan
    # part and the bad-supplier anti side both broadcast
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_q2_catalog_agg_before_window(spark, sf_dir):
    from etl_npl_pipeline_spark.plans import tpch_rest

    plan = _formatted(tpch_rest.q2_min_cost_supplier(spark, sf_dir), execute=True)
    # the correlated-min rewrite must keep dims broadcast and avoid
    # any nested-loop/cartesian fallback
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # lineitem is scanned once (catalog agg), not once per side
    assert plan.count("lineitem.parquet") == 1


def test_q21_two_shuffles_no_cartesian(spark, sf_dir):
    from etl_npl_pipeline_spark.plans import tpch_rest

    plan = _formatted(tpch_rest.q21_waiting_suppliers(spark, sf_dir), execute=True)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the EXISTS/NOT-EXISTS collapse derives both rollups from ONE
    # lineitem scan (Spark reuses the shuffled per-pair agg)
    assert plan.count("lineitem.parquet") <= 2


def test_range_join_is_hash_join_not_nested_loop(spark, sf_dir):
    """The whole point of bucketed_range_join: a pure range
    predicate must NOT plan as BroadcastNestedLoopJoin/cartesian —
    the bucket key turns it into a hash equi-join."""
    from etl_npl_pipeline_spark.plans import extras

    plan = _formatted(extras.events_range_join(spark, sf_dir), execute=True)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(__bucket" in plan or "BroadcastHashJoin" in plan


def test_data_split_scan_prunes_text_column(spark, sf_dir):
    """data_split only needs doc_id + n_chars: the (wide) text
    column must never reach the parquet scan — at 100 TB reading
    text here would dominate the whole query."""
    plan = _formatted(llmdata.data_split(spark, sf_dir))
    import re

    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_schemas, plan
    for rs in read_schemas:
        assert "text" not in rs
        assert "doc_id" in rs and "n_chars" in rs


def test_media_metadata_query_skips_payload(spark, sf_dir):
    """A metadata-only projection over the media frame must prune
    the binary payload out of the upstream scan."""
    from etl_npl_pipeline_spark.operators.multimodal import build_media_frame
    from etl_npl_pipeline_spark.sources.tables import load_table
    import pyspark.sql.functions as F
    import re

    docs = load_table(spark, sf_dir, "documents")
    media = build_media_frame(docs, "text", "doc_id")
    meta_only = media.groupBy().agg(F.sum("meta.n_bytes").alias("total"))
    plan = _formatted(meta_only)
    # the payload is derived from text, so text must still be read —
    # but no other documents columns may survive pruning
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_schemas, plan
    for rs in read_schemas:
        assert "lang" not in rs and "source" not in rs


def test_events_hopping_window_scan_pruned(spark, sf_dir):
    from etl_npl_pipeline_spark.plans import profiling
    import re

    plan = _formatted(profiling.events_hopping_window(spark, sf_dir))
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_schemas, plan
    for rs in read_schemas:
        # only ts + event_type needed; value/props must prune away
        assert "value" not in rs and "props" not in rs


def test_lm_score_model_broadcast_single_train_scan(spark, sf_dir):
    """text_lm_score's scale contract: the LM model is bounded by a
    map-side top-K (TakeOrderedAndProject, never a global sort
    exchange) and joins the corpus bigrams as a BROADCAST build side
    — the corpus text must not shuffle. The reference-slice counting
    subtree must evaluate exactly once (three total scans: train
    slice, scoring slice, doc_id base)."""
    import re

    plan = _formatted(llmdata.text_lm_score(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    # formatted explain prints each scan node twice (tree + details)
    n_scans = len(re.findall(r"Scan parquet\s+\(\d+\)", plan))
    assert n_scans <= 3, plan


def test_data_shuffle_is_partial_topk_not_global_sort(spark, sf_dir):
    """The shuffled-order preview must run as TakeOrderedAndProject
    (map-side partial top-K); a rangepartitioning exchange would mean
    the whole corpus sorts globally just to show 100 rows."""
    plan = _formatted(llmdata.data_shuffle(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_commonness_vocab_join_not_hint_broadcast(spark, sf_dir):
    """text_commonness joins the corpus against its own distinct
    vocabulary — unbounded at web scale, so the join must carry NO
    broadcast hint. With auto-broadcast disabled the plan has to
    degrade to a shuffle join; an explicit F.broadcast(vocab) would
    still show up as BroadcastHashJoin and OOM at 100 TB."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _formatted(llmdata.text_commonness(spark, sf_dir))
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_doc_chunks_map_only_no_exchange(spark, sf_dir):
    """Chunking is a pure map op: split/explode/slice/md5 all stay in
    one codegen stage — any Exchange means a needless shuffle got
    into the pipeline's cheapest, widest-applied step."""
    plan = _formatted(llmdata.doc_chunks(spark, sf_dir))
    assert "Exchange" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_tfidf_no_vocab_broadcast(spark, sf_dir):
    """TF-IDF's document-frequency side is the unbounded vocabulary —
    same rule as text_commonness: it must never carry a broadcast
    hint. df comes from a count-over-window on the term partitioning,
    so the only BroadcastExchange in the plan is the 1-row corpus
    size (IdentityBroadcastMode / single-row nested loop), never a
    HashedRelation over terms."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _formatted(llmdata.text_tfidf(spark, sf_dir))
        assert "BroadcastHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_vocab_coverage_partial_topk(spark, sf_dir):
    """The top-1000 vocabulary slice must run as
    TakeOrderedAndProject (map-side partial top-K) — a global sort of
    the whole vocabulary to read 1000 rows is the anti-pattern."""
    plan = _formatted(llmdata.vocab_coverage(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_contrastive_negative_window_bucket_fanout(spark, sf_dir):
    """The negative-sampler window partitions on a md5 prefix whose
    width IS the shuffle-parallelism ceiling: 1 hex char = 16 buckets
    would cap a 1000-executor cluster at 16 tasks forever (the r3
    scale-killer). Pin the knob >= 3 chars (4096 buckets) and prove
    the fan-out is real on data: distinct bucket values must exceed
    256 even on a small corpus."""
    from pyspark.sql import functions as F

    assert llmdata.NEG_BUCKET_CHARS >= 3
    n = 10_000
    ids = spark.range(n).select(F.col("id").alias("doc_id"))
    key = F.md5(F.concat(F.lit("pair0-"), F.col("doc_id").cast("string")))
    got = ids.select(
        F.substring(key, 1, llmdata.NEG_BUCKET_CHARS).alias("bkt")
    ).distinct().count()
    assert got > 256, f"only {got} negative-sampler buckets"


def test_contrastive_production_path_no_global_sort(spark, sf_dir):
    """contrastive_pairs_plan is the production pair writer: it must
    not end in a global Sort (presentation ordering belongs to the
    contract query only), and its only windows partition by bucket —
    never a single-partition window."""
    from etl_npl_pipeline_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    plan = _formatted(llmdata.contrastive_pairs_plan(docs))
    assert "Exchange rangepartitioning" not in plan
    assert "SinglePartition" not in plan


def test_bloom_probe_is_map_side_before_verify(spark, sf_dir):
    """dedup_bloom's Bloom stage must not introduce extra shuffles:
    the probe is a map-side pandas_udf over the exploded grams, so
    the plan carries exactly the shuffles of the verify join + final
    agg — and never a cartesian product."""
    plan = _formatted(llmdata.dedup_bloom(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # bench gram set broadcasts for the exact verify stage
    assert "BroadcastHashJoin" in plan


def test_pq_corpus_vectors_never_join(spark, sf_dir):
    """ann_pq's search side must shuffle CANDIDATES, not corpus
    vectors: the ADC pass is mapInPandas over the code table with
    per-batch partial top-k, so no join in the plan may be cartesian
    and the exact re-rank joins a broadcast id set."""
    plan = _formatted(llmdata.ann_pq(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_joins_only_the_open_slice_broadcast(spark, sf_dir):
    """scd2_history: the change batch joins the OPEN slice via
    broadcast — closed history (the bulk of a 100 TB dimension) must
    never enter a join."""
    from etl_npl_pipeline_spark.plans import lakehouse

    plan = _formatted(lakehouse.scd2_history(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bpe_pairs_partial_topk_not_global_sort(spark, sf_dir):
    """vocab_bpe_pairs top-k is TakeOrderedAndProject (partial
    per-partition top-k + merge), never a full Sort of the pair
    table."""
    plan = _formatted(llmdata.vocab_bpe_pairs(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_npl_assemble_single_lineitem_scan(spark, sf_dir):
    """npl_assemble carries flowrate + price_index in ONE
    quarter_series frame; selecting them from two separate calls
    would rebuild the plan twice (pruning breaks ReusedExchange) and
    scan lineitem twice."""
    plan = _formatted(npl.npl_assemble(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1


def test_events_funnel_single_event_scan(spark, sf_dir):
    """The funnel's three sequential stage constraints ride chained
    window mins over one user_id partitioning — one scan of the
    fact table, not one per stage (the naive per-stage-frame chain
    re-planned the scan 6x)."""
    from etl_npl_pipeline_spark.plans import extras

    plan = _formatted(extras.events_funnel(spark, sf_dir))
    assert plan.count("events.parquet") == 1


def test_gopher_rules_map_only_single_stage(spark, sf_dir):
    """L47/L48 are filter-stage ops that run on every crawled doc:
    they must stay map-only — one scan, no Exchange before the
    presentation sort (which TakeOrdered/Sort adds at the end)."""
    from etl_npl_pipeline_spark.plans import llmdata as ld

    for qfn in (ld.text_gopher_rules, ld.text_script_profile):
        plan = _formatted(qfn(spark, sf_dir))
        # no data shuffle: the only exchange allowed is the
        # rangepartitioning that feeds the presentation sort
        assert "hashpartitioning" not in plan, f"{qfn.__name__} shuffles"
        assert plan.count("Location: InMemoryFileIndex") == 1


def test_curriculum_single_source_window_shuffle(spark, sf_dir):
    """L49's only data shuffle is the per-source ntile window + the
    stage groupBy on the same key family; no global-sort window
    (ntile without partitionBy = one-partition straggler)."""
    from etl_npl_pipeline_spark.plans import llmdata as ld

    plan = _formatted(ld.data_curriculum(spark, sf_dir))
    assert "SinglePartition" not in plan.split("AdaptiveSparkPlan")[0] or (
        # the final presentation orderBy on the tiny agg result may
        # range-partition; what must NOT exist is a single-partition
        # window over the full corpus
        "Window" not in plan.split("SinglePartition")[0]
    )
    assert "ntile" in plan.lower()


def test_emb_quantize_map_only(spark, sf_dir):
    """L50 quantization must be a pure map over the embedding scan —
    an Exchange here would mean the 100-TB embedding store shuffles
    to get compressed."""
    from etl_npl_pipeline_spark.plans import llmdata as ld

    plan = _formatted(ld.emb_quantize_int8(spark, sf_dir))
    assert "hashpartitioning" not in plan  # rangepartitioning sort only
    assert plan.count("Location: InMemoryFileIndex") == 1


# --- whole-contract BNLJ sweep ------------------------------------

# Queries whose callable EXECUTES work when invoked (streaming
# drains, lakehouse writes, pipeline runs) — their plan shape is
# pinned by their own dedicated tests; building them here would turn
# a plan scan into a full run.
_EAGER_PREFIXES = (
    "stream_",
    "pipeline_",
    "sink_",
    "merge_",
    "mor_",
)


def test_no_bnlj_or_cartesian_anywhere(spark, sf_dir):
    """EVERY batch contract query plans without a
    BroadcastNestedLoopJoin or CartesianProduct — the two physical
    operators that turn into |left|x|right| work at 100 TB. The
    former used to appear as harmless 1-row scalar crossJoins
    (tfidf / bm25 / rag / phrase-search / vocab-coverage /
    token-budget / corpus-prune); those now attach their scalars as
    scalar SUBQUERIES (ScalarSubquery folds to a literal, no join
    node), so the invariant can be pinned corpus-wide."""
    import __spark_entry__ as entry

    offenders = []
    for name, fn in entry.queries().items():
        if name.startswith(_EAGER_PREFIXES):
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == [], f"BNLJ/cartesian in: {offenders}"


def test_ann_rp_projection_stays_jvm_side(spark, sf_dir):
    plan = _formatted(llmdata.ann_rp_topk(spark, sf_dir), execute=True)
    # the JL projection is 16 codegen multiply-add chains over sign
    # literals — a Python worker here (ArrowEvalPython) would put an
    # Arrow round-trip in front of every scored vector at 100 TB
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # search itself is the chunked brute-force cogroup
    assert "FlatMapCoGroupsInPandas" in plan


@pytest.mark.parametrize("name", ["ann_pq", "ann_rp_rerank", "rag_retrieve"])
def test_candidate_pair_scoring_stays_jvm_side(spark, sf_dir, name):
    plan = _formatted(getattr(llmdata, name)(spark, sf_dir), execute=True)
    # candidate pairs are scored by the JVM `dot` fold; a Python
    # worker here (ArrowEvalPython) would cost an Arrow round trip
    # per stage for arithmetic the JVM does faster
    assert "ArrowEvalPython" not in plan


def test_bpe_encode_apply_is_single_projection(spark, sf_dir):
    from etl_npl_pipeline_spark.operators.bpe import bpe_apply

    words = spark.createDataFrame([("lowest",), ("slow",)], "w string")
    plan = _formatted(
        bpe_apply(words, [("l", "o"), ("lo", "w")]), execute=False
    )
    # frozen-merge tokenization must stay one map-only codegen
    # projection: no exchange, no Python worker — that is what makes
    # per-shard apply embarrassingly parallel at corpus scale
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan


def test_hybrid_rrf_fuses_candidate_lists_not_corpus(spark, sf_dir):
    plan = _formatted(llmdata.search_hybrid_rrf(spark, sf_dir), execute=True)
    # RRF's scale contract: fusion joins two <=RRF_DEPTH candidate
    # lists, never corpus-sized relations — the dense side must cut
    # to top-N via TakeOrderedAndProject (map-side partial top-k),
    # not a global Sort feeding the join
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # whole pipeline is JVM-side: no Python worker anywhere
    assert "ArrowEvalPython" not in plan
    assert "FlatMapCoGroupsInPandas" not in plan


def test_stratified_sample_single_stratum_exchange(spark, sf_dir):
    df = llmdata.data_stratified_sample(spark, sf_dir)
    plan = _formatted(df, execute=True)
    # rank window, stratum count window, and the per-stratum
    # aggregate all share the (source, lang) hash partitioning: ONE
    # shuffle of row data (plus AQE's final tiny orderBy exchange).
    # A second corpus-sized exchange would mean the window and the
    # groupBy disagreed on partitioning.
    body = plan.split("== Physical Plan ==")[-1]
    n_exchanges = body.count("Exchange hashpartitioning")
    assert n_exchanges <= 1, f"{n_exchanges} hash exchanges:\n{body}"
    assert "ArrowEvalPython" not in plan


def test_emb_pca_moments_stay_jvm_side(spark, sf_dir):
    # the data-sized stage of PCA is the second-moment aggregation:
    # a JVM HOF pair-explode with map-side partial aggregation — a
    # Python worker or a row-pair join here would dominate at scale
    df = llmdata.emb_pca(spark, sf_dir)
    plan = _formatted(df, execute=True)
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_snapshot_diff_partition_pruning_and_key_join(spark, sf_dir):
    from etl_npl_pipeline_spark.plans import ivm

    df = ivm.snapshot_diff(spark, sf_dir)
    plan = _formatted(df, execute=True)
    # the manifest-selected partition list must land in the parquet
    # scan's PartitionFilters (untouched partitions: zero data read)
    assert "PartitionFilters: [" in plan
    assert plan.count("o_orderstatus") >= 2  # both snapshot scans
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_agg_incremental_never_rescans_base(spark, sf_dir):
    from etl_npl_pipeline_spark.plans import ivm

    df = ivm.agg_incremental(spark, sf_dir)
    plan = _formatted(df, execute=True)
    # the refresh plan reads the materialized STATE parquet plus the
    # delta partials — and since r14 the delta comes from the SAME
    # checkpointed monthly-partials frame the state write produced
    # (one lineitem pass total, at state-build time), so the refresh
    # plan itself contains ZERO lineitem scans: history is never
    # rescanned and neither is the tail
    body = plan.split("== Physical Plan ==")[-1]
    assert body.count("lineitem.parquet") == 0, body
    assert "agg_incremental/state" in body


def test_cep_pattern_single_user_exchange(spark, sf_dir):
    from etl_npl_pipeline_spark.plans import profiling as prof

    df = prof.events_cep_pattern(spark, sf_dir)
    plan = _formatted(df, execute=True)
    body = plan.split("== Physical Plan ==")[-1]
    # session window, per-(user,session) sequence aggregate, and the
    # per-user rollup all cluster on user_id: HashPartitioning(user)
    # satisfies ClusteredDistribution(user, session), so the whole
    # pipeline needs at most ONE data-sized hash exchange
    assert body.count("Exchange hashpartitioning") <= 1, body
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_markov_no_data_sized_second_exchange(spark, sf_dir):
    from etl_npl_pipeline_spark.plans import profiling as prof

    df = prof.events_markov_transitions(spark, sf_dir)
    plan = _formatted(df, execute=True)
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_label_prop_uses_chunked_cogroup_not_pair_join(spark, sf_dir):
    df = llmdata.graph_label_prop(spark, sf_dir)
    plan = _formatted(df, execute=True)
    # the kNN graph must come from the chunked brute-force cogroup —
    # a row-level |V|x|V| join or cartesian here would be the exact
    # scale bug the chunk grid exists to avoid
    assert "FlatMapCoGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ab_test_single_user_shuffle_no_join(spark, sf_dir):
    from etl_npl_pipeline_spark.plans import profiling as prof

    df = prof.events_ab_test(spark, sf_dir)
    plan = _formatted(df, execute=True)
    # the 2x2 table attaches as a scalar struct subquery folded into
    # the projection — a join node here would shuffle the variant
    # rollup for two rows
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_boilerplate_threshold_is_scalar_subquery(spark, sf_dir):
    df = llmdata.text_line_boilerplate(spark, sf_dir)
    plan = _formatted(df, execute=True)
    # corpus size folds in as a scalar subquery; the boilerplate set
    # joins back by line key (co-keyed) — no BNLJ, no Python
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" not in plan


def test_containment_single_shingle_exchange_shape(spark, sf_dir):
    df = llmdata.dedup_containment(spark, sf_dir)
    plan = _formatted(df, execute=True)
    # same scale contract as jaccard_pairs: inverted-index self-join
    # on the shingle key, no row-level cartesian, no Python
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan


def test_stream_cdc_scd2_rejects_out_of_order(spark, sf_dir, tmp_path):
    # the ordering contract is load-bearing: a seq-2 batch arriving
    # while only state_seq0 exists must raise, not corrupt history —
    # drives the REAL sink body (_apply_cdc_batch)
    import pyspark.sql.functions as F
    import pytest as _pytest

    from etl_npl_pipeline_spark.plans import ivm

    state_dir = str(tmp_path)
    spark.range(1).select(
        F.lit(1).cast("bigint").alias("c_custkey"),
        F.lit("A").alias("c_mktsegment"),
        F.lit(0).alias("c_nationkey"),
        F.lit("2020-01-01").alias("valid_from"),
        F.lit("9999-12-31").alias("valid_to"),
    ).write.parquet(f"{state_dir}/state_seq0")
    bad_batch = spark.range(1).select(
        F.lit(2).cast("int").alias("batch_seq"),
        F.lit(1).cast("bigint").alias("c_custkey"),
        F.lit("B").alias("c_mktsegment"),
        F.lit(0).alias("c_nationkey"),
    )
    with _pytest.raises(RuntimeError, match="CDC out-of-order"):
        ivm._apply_cdc_batch(spark, bad_batch, state_dir)
    # and the in-order batch applies cleanly through the same path
    good = bad_batch.withColumn("batch_seq", F.lit(1).cast("int"))
    ivm._apply_cdc_batch(spark, good, state_dir)
    hist = spark.read.parquet(f"{state_dir}/state_seq1")
    assert hist.count() == 2  # closed original + new open version


def test_containment_joins_never_broadcast_postings(spark, sf_dir):
    """r13 (sf10 probe find): AQE's compressed-bytes estimate of the
    checkpointed posting relation sits under the 64MB broadcast
    threshold while its in-heap HashedRelation is GiB-scale —
    measured OOM at sf1 under an 8g driver. Both containment paths
    hint every posting/corpus-sized join to shuffle_hash; the
    executed plan must carry ZERO BroadcastExchange."""
    for fn in (
        llmdata.dedup_containment,
        llmdata.dedup_containment_bottomk,
    ):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, fn.__name__
        assert "ShuffledHashJoin" in plan, fn.__name__


def test_session_skips_dataframe_call_site_capture(spark):
    """Call-site capture costs about four py4j round trips per
    DataFrame/Column call at plan construction; get_spark turns it
    off (static conf, README)."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
