"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()`` maps every implemented SURVEY.md §2 operator to a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL for each (omitted → rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from etl_npl_pipeline_spark.plans import (
    corpus,
    extras,
    ivm,
    lakehouse,
    llmdata,
    surfaces,
    npl,
    profiling,
    reference_ops as rops,
    tpch,
    tpch_extra,
    tpch_more,
    tpch_rest,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return tpch.q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, QueryFn]:
    # The driver's CORRECTNESS check covers the first 50 entries.
    # r13 window rotation (VERDICT r12 #5: 141 of 191 sat out the
    # r12 window — keep rotating the least-recently-checked forward):
    # the front is this round's NEW contracts (ann_filtered_pq: the
    # allowed_ids pushdown on the PQ serving path, exact-by-
    # construction via k' >= |allowed|; search_mmr: MMR diversified
    # re-ranking with the unrolled greedy-round oracle;
    # text_quality_probe + its incremental twin: linear quality-probe
    # regression — exact integer sufficient statistics +
    # bit-identical unrolled GD; the incremental and STREAMING twins
    # pin moment-additive refresh == full retrain, the streaming one
    # through a batch_id-keyed foreachBatch accumulator), then every
    # query whose
    # BEHAVIOR changed in r13 (text_pii_audit: 7 classes incl.
    # checksum-validated Thai IDs + sequential chars attribution;
    # emb_drift_report: variance clamp; graph_label_prop_indexed and
    # ann_semantic_sweep: n_queries_hint skips the size-probe job;
    # ann_filtered_topk: shares the widened ivf_query signature),
    # the rows-only trio (window-pinned by test_driver_window), and
    # then the 37 queries with the OLDEST driver evidence on file —
    # the full r5 and r6 blocks and the oldest of the r7 block
    # (events_gapfill; events_funnel, events_retention,
    # vocab_top_ngrams, corpus_prune, doc_chunks, dedup_minhash,
    # emb_centroids and doc_length_hist roll to r14). emb_kmeans
    # (L80, session 2: distributed Lloyd rounds in exact fixed-point
    # arithmetic, unrolled-round oracle) and scd2_pit_join (T24,
    # session 2: point-in-time join to the versioned dimension)
    # and data_compaction_plan (L81, session 2: the OPTIMIZE
    # bin-packing planner) and ann_range_search (L82, session 2:
    # IVF-served radius search) and stream_drift_monitor (ST16,
    # session 2: the L76 report as an exactly-once streaming fold of
    # exact fixed-point moments) and events_path_analysis (A54,
    # session 2: top user journeys) and join_incremental (T25,
    # session 2: delta-rule JOIN-view maintenance with a
    # late-arriving dimension batch) and dedup_editdistance (L83,
    # session 2: prefix-blocked Levenshtein near-dup pairs)
    # and graph_pagerank + graph_pagerank_indexed (L84/L84b,
    # session 2: fixed-round PageRank in exact fixed-point mass —
    # the capped exact yardstick and its index-served production
    # twin on the L72b planted-grid graph) front-load as new
    # contracts, rolling dq_orders, events_quantiles,
    # events_hopping_window, events_gapfill, events_funnel,
    # events_retention, stream_stream_join, stream_static_join,
    # stream_user_totals and stream_dedup_events out (the window
    # now ends at stream_events_window). stream_join_incremental
    # (ST17, session 2: the T25 delta-rule refresh as a stream with
    # batch-id-keyed exactly-once join deltas) joins the front,
    # rolling stream_sessionize out too — the window's last entry
    # is stream_events_window.
    return {
        "emb_kmeans": llmdata.emb_kmeans,
        "scd2_pit_join": lakehouse.scd2_pit_join,
        "data_compaction_plan": llmdata.data_compaction_plan,
        "ann_range_search": llmdata.ann_range_search,
        "stream_drift_monitor": llmdata.stream_drift_monitor,
        "events_path_analysis": profiling.events_path_analysis,
        "join_incremental": ivm.join_incremental,
        "stream_join_incremental": ivm.stream_join_incremental,
        "dedup_editdistance": llmdata.dedup_editdistance,
        "graph_pagerank": llmdata.graph_pagerank,
        "graph_pagerank_indexed": llmdata.graph_pagerank_indexed,
        "ann_filtered_pq": llmdata.ann_filtered_pq,
        "search_mmr": llmdata.search_mmr,
        "text_quality_probe": llmdata.text_quality_probe,
        "text_quality_probe_incremental":
            llmdata.text_quality_probe_incremental,
        "stream_quality_probe": llmdata.stream_quality_probe,
        "text_pii_audit": llmdata.text_pii_audit,
        "emb_drift_report": llmdata.emb_drift_report,
        "graph_label_prop_indexed": llmdata.graph_label_prop_indexed,
        "ann_semantic_sweep": llmdata.ann_semantic_sweep,
        "ann_filtered_topk": llmdata.ann_filtered_topk,
        "ann_lsh": llmdata.ann_lsh,
        "ann_ivf": llmdata.ann_ivf,
        "ann_pq": llmdata.ann_pq,
        "q14_promo_revenue": tpch_extra.q14_promo_revenue,
        "q_rollup_region": tpch_extra.q_rollup_region,
        "q13_order_distribution": tpch_more.q13_order_distribution,
        "text_scrub": llmdata.text_scrub,
        "text_commonness": llmdata.text_commonness,
        "data_split": llmdata.data_split,
        "data_mixture": llmdata.data_mixture,
        "text_repetition": llmdata.text_repetition,
        "text_winnow": llmdata.text_winnow,
        "join_bucketed": surfaces.join_bucketed,
        "q3_shipping_priority": tpch.q3_shipping_priority,
        "q5_local_supplier": tpch.q5_local_supplier,
        "q18_large_orders": tpch.q18_large_orders,
        "q4_order_priority": tpch_extra.q4_order_priority,
        "q12_priority_shipping": tpch_extra.q12_priority_shipping,
        "q19_disjunctive": tpch_extra.q19_disjunctive,
        "q7_nation_volume": tpch_more.q7_nation_volume,
        "q8_market_share": tpch_more.q8_market_share,
        "q9_product_profit": tpch_more.q9_product_profit,
        "q15_top_supplier": tpch_more.q15_top_supplier,
        "q_top_parts_per_brand": tpch_extra.q_top_parts_per_brand,
        "corpus_curation": corpus.corpus_curation,
        "dedup_components": llmdata.dedup_components,
        "dedup_components_star": llmdata.dedup_components,
        "dedup_embedding": llmdata.dedup_embedding,
        "stream_events_window": extras.stream_events_window,
        "stream_sessionize": extras.stream_sessionize_q,
        "stream_dedup_events": extras.stream_dedup_events,
        "stream_user_totals": extras.stream_user_totals_q,
        "stream_static_join": extras.stream_static_join,
        "stream_stream_join": extras.stream_stream_join,
        "events_quantiles": profiling.events_quantiles,
        "dq_orders": profiling.dq_orders,
        "events_hopping_window": profiling.events_hopping_window,
        "events_gapfill": extras.events_gapfill,
        "events_funnel": extras.events_funnel,
        "events_retention": extras.events_retention,
        "vocab_top_ngrams": llmdata.vocab_top_ngrams,
        "corpus_prune": llmdata.corpus_prune,
        "doc_chunks": llmdata.doc_chunks,
        "dedup_minhash": llmdata.dedup_minhash,
        "dedup_containment_bottomk": llmdata.dedup_containment_bottomk,
        "events_attribution": profiling.events_attribution,
        "events_ohlc_bars": profiling.events_ohlc_bars,
        "stream_ohlc_bars": extras.stream_ohlc_bars,
        "dedup_containment": llmdata.dedup_containment,
        "q_cohort_ltv": profiling.q_cohort_ltv,
        "emb_pca": llmdata.emb_pca,
        "vocab_bpe_encode": llmdata.vocab_bpe_encode,
        "ann_rp_topk": llmdata.ann_rp_topk,
        "ann_rp_rerank": llmdata.ann_rp_rerank,
        "graph_label_prop": llmdata.graph_label_prop,
        "q_salted_join": extras.q_salted_join,
        "data_interleave": llmdata.data_interleave,
        "data_zorder": llmdata.data_zorder,
        "text_normalize": llmdata.text_normalize,
        "data_contrastive_pairs": llmdata.data_contrastive_pairs,
        "dedup_cross_source": llmdata.dedup_cross_source,
        "vocab_bpe_pairs": llmdata.vocab_bpe_pairs,
        "src_jsonl_quarantine": surfaces.src_jsonl_quarantine_q,
        "sql_udtf_sessionize": surfaces.sql_udtf_sessionize,
        "dedup_incremental": llmdata.dedup_incremental,
        "text_gopher_rules": llmdata.text_gopher_rules,
        "text_script_profile": llmdata.text_script_profile,
        "data_curriculum": llmdata.data_curriculum,
        "emb_quantize_int8": llmdata.emb_quantize_int8,
        "events_windowed_topk": profiling.events_windowed_topk,
        "text_chunk_filter": llmdata.text_chunk_filter,
        "data_shard_manifest": llmdata.data_shard_manifest,
        "events_sla_breach": profiling.events_sla_breach,
        "src_orc_roundtrip": extras.src_orc_roundtrip,
        "src_jsonl_roundtrip": extras.src_jsonl_roundtrip,
        "src_json_props": rops.src_json_props,
        "src_json_variant": rops.src_json_variant,
        "events_sessionize": rops.events_sessionize,
        "events_window_agg": rops.events_window_agg,
        "events_median": rops.events_median,
        "text_quality": llmdata.text_quality,
        "text_token_count": llmdata.text_token_count,
        "text_fingerprint": llmdata.text_fingerprint,
        "dedup_exact": llmdata.dedup_exact,
        "dedup_ngram_jaccard": llmdata.dedup_ngram_jaccard,
        "q1_pricing_summary": tpch.q1_pricing_summary,
        "q6_forecast_revenue": tpch.q6_forecast_revenue,
        "stream_index_refresh": llmdata.stream_index_refresh,
        "text_gopher_multiscript": llmdata.text_gopher_multiscript,
        "dedup_simhash": llmdata.dedup_simhash,
        "dedup_semantic": llmdata.dedup_semantic,
        "corpus_filter_funnel": llmdata.corpus_filter_funnel,
        "text_lang_id": llmdata.text_lang_id,
        "text_langid_confusion": llmdata.text_langid_confusion,
        "text_lang_id_cjk": llmdata.text_lang_id_cjk,
        "ann_index_build": llmdata.ann_index_build,
        "ann_index_refresh": llmdata.ann_index_refresh,
        "ann_compacted_query": llmdata.ann_compacted_query,
        "dedup_image_phash": extras.dedup_image_phash,
        "vocab_bpe_train": llmdata.vocab_bpe_train,
        "search_hybrid_rrf": llmdata.search_hybrid_rrf,
        "data_stratified_sample": llmdata.data_stratified_sample,
        "snapshot_diff": ivm.snapshot_diff,
        "agg_incremental": ivm.agg_incremental,
        "stream_agg_incremental": ivm.stream_agg_incremental,
        "events_cep_pattern": profiling.events_cep_pattern,
        "events_markov_transitions": profiling.events_markov_transitions,
        "events_ab_test": profiling.events_ab_test,
        "text_line_boilerplate": llmdata.text_line_boilerplate,
        "stream_cdc_scd2": ivm.stream_cdc_scd2,
        "mm_video_sample": extras.mm_video_sample,
        "q10_returned_items": tpch.q10_returned_items,
        "q17_small_quantity": tpch_more.q17_small_quantity,
        "q_cube_status_priority": tpch_extra.q_cube_status_priority,
        "src_rest_flaky": surfaces.src_rest_flaky,
        "src_rest_live": surfaces.src_rest_live,
        "src_pyds_backfill": surfaces.src_pyds_backfill,
        "stream_upsert_read": extras.stream_upsert_read,
        "profile_sketches": profiling.profile_sketches,
        "q21_waiting_suppliers": tpch_rest.q21_waiting_suppliers,
        "dedup_chunks": llmdata.dedup_chunks,
        "events_asof_join": profiling.events_asof_join,
        "vocab_coverage": llmdata.vocab_coverage,
        "profile_orders": profiling.profile_orders,
        "events_anomalies": profiling.events_anomalies,
        "src_rest_pages": extras.src_rest_pages,
        "text_tfidf": llmdata.text_tfidf,
        "search_bm25": llmdata.search_bm25,
        "q11_important_parts": tpch_rest.q11_important_parts,
        "q22_global_sales": tpch_more.q22_global_sales,
        "rag_retrieve": llmdata.rag_retrieve,
        "search_phrase": llmdata.search_phrase,
        "data_token_budget": llmdata.data_token_budget,
        "stream_windowed_topk": extras.stream_windowed_topk,
        "stream_anomaly_alerts": extras.stream_anomaly_alerts,
        "stream_session_window": extras.stream_session_window,
        "stream_stream_left_join": extras.stream_stream_left_join,
        "events_session_window": profiling.events_session_window,
        "events_range_join": extras.events_range_join,
        "dedup_spans": llmdata.dedup_spans,
        "dedup_survivors": llmdata.dedup_survivors,
        "text_lm_score": llmdata.text_lm_score,
        "ann_topk": llmdata.ann_topk,
        "data_cap_domains": llmdata.data_cap_domains,
        "data_pack": llmdata.data_pack,
        "data_shuffle": llmdata.data_shuffle,
        "dedup_decontaminate": llmdata.dedup_decontaminate,
        "dedup_bloom": llmdata.dedup_bloom,
        "mm_decode_meta": extras.mm_decode_meta,
        "mm_decode_real": extras.mm_decode_real,
        "mm_decode_jpeg": extras.mm_decode_jpeg,
        "mm_decode_mp4": extras.mm_decode_mp4,
        "mm_frame_sample": extras.mm_frame_sample,
        "mm_resize": extras.mm_resize,
        "mm_audio_features": extras.mm_audio_features,
        "fn_quarter_reformat": rops.fn_quarter_reformat,
        "fn_quarter_of_date": rops.fn_quarter_of_date,
        "fn_strip_suffix": rops.fn_strip_suffix,
        "fn_parse_number": rops.fn_parse_number,
        "op_ffill": rops.op_ffill,
        "op_melt": rops.op_melt,
        "op_unpivot_native": rops.op_unpivot_native,
        "op_pivot": rops.op_pivot,
        "op_quarter_agg": rops.op_quarter_agg,
        "op_filter_pushdown": rops.op_filter_pushdown,
        "op_segment": rops.op_segment,
        "op_rolling_avg": rops.op_rolling_avg,
        "op_yoy_growth": rops.op_yoy_growth,
        "npl_quarterly": npl.npl_quarterly,
        "npl_by_segment": npl.npl_by_segment,
        "npl_assemble": npl.npl_assemble,
        "compat_pandas_quarterly": surfaces.compat_pandas_quarterly,
        "scd2_history": lakehouse.scd2_history,
        "merge_cow_read": lakehouse.merge_cow_read,
        "mor_snapshot_asof": extras.mor_snapshot_asof,
        "mor_compacted_read": extras.mor_compacted_read,
        "sink_partition_upsert": surfaces.sink_partition_upsert,
        "pipeline_full_read": surfaces.pipeline_full_read,
        "q2_min_cost_supplier": tpch_rest.q2_min_cost_supplier,
        "q16_part_supplier_counts": tpch_rest.q16_part_supplier_counts,
        "q20_excess_shippers": tpch_rest.q20_excess_shippers,
        "q_set_ops": tpch_rest.q_set_ops,
        "src_csv_roundtrip": extras.src_csv_roundtrip,
        "src_excel_roundtrip": extras.src_excel_roundtrip,
        "emb_centroids": llmdata.emb_centroids,
        "doc_length_hist": llmdata.doc_length_hist,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "q1_pricing_summary": tpch.Q1_SQL,
        "q3_shipping_priority": tpch.Q3_SQL,
        "q5_local_supplier": tpch.Q5_SQL,
        "q6_forecast_revenue": tpch.Q6_SQL,
        "q10_returned_items": tpch.Q10_SQL,
        "q18_large_orders": tpch.Q18_SQL,
        "q4_order_priority": tpch_extra.Q4_SQL,
        "q12_priority_shipping": tpch_extra.Q12_SQL,
        "q14_promo_revenue": tpch_extra.Q14_SQL,
        "q19_disjunctive": tpch_extra.Q19_SQL,
        "q_rollup_region": tpch_extra.Q_ROLLUP_SQL,
        "q_cube_status_priority": tpch_extra.Q_CUBE_SQL,
        "q7_nation_volume": tpch_more.Q7_SQL,
        "q8_market_share": tpch_more.Q8_SQL,
        "q9_product_profit": tpch_more.Q9_SQL,
        "q13_order_distribution": tpch_more.Q13_SQL,
        "q15_top_supplier": tpch_more.Q15_SQL,
        "q17_small_quantity": tpch_more.Q17_SQL,
        "q22_global_sales": tpch_more.Q22_SQL,
        "q2_min_cost_supplier": tpch_rest.Q2_SQL,
        "q11_important_parts": tpch_rest.Q11_SQL,
        "q16_part_supplier_counts": tpch_rest.Q16_SQL,
        "q20_excess_shippers": tpch_rest.Q20_SQL,
        "q21_waiting_suppliers": tpch_rest.Q21_SQL,
        "q_set_ops": tpch_rest.Q_SET_OPS_SQL,
        "q_top_parts_per_brand": tpch_extra.Q_TOP_PARTS_SQL,
        "npl_by_segment": npl.NPL_BY_SEGMENT_SQL,
        "npl_assemble": npl.NPL_ASSEMBLE_SQL,
        "npl_quarterly": npl.NPL_QUARTERLY_SQL,
        "fn_quarter_reformat": rops.FN_QUARTER_REFORMAT_SQL,
        "fn_quarter_of_date": rops.FN_QUARTER_OF_DATE_SQL,
        "fn_strip_suffix": rops.FN_STRIP_SUFFIX_SQL,
        "fn_parse_number": rops.FN_PARSE_NUMBER_SQL,
        "op_ffill": rops.OP_FFILL_SQL,
        "op_melt": rops.OP_MELT_SQL,
        "op_unpivot_native": rops.OP_UNPIVOT_NATIVE_SQL,
        "events_median": rops.EVENTS_MEDIAN_SQL,
        "op_pivot": rops.OP_PIVOT_SQL,
        "op_quarter_agg": rops.OP_QUARTER_AGG_SQL,
        "op_rolling_avg": rops.OP_ROLLING_AVG_SQL,
        "op_yoy_growth": rops.OP_YOY_GROWTH_SQL,
        "op_filter_pushdown": rops.OP_FILTER_PUSHDOWN_SQL,
        "op_segment": rops.OP_SEGMENT_SQL,
        "src_json_props": rops.SRC_JSON_PROPS_SQL,
        "src_json_variant": rops.SRC_JSON_VARIANT_SQL,
        "events_sessionize": rops.EVENTS_SESSIONIZE_SQL,
        "events_window_agg": rops.EVENTS_WINDOW_AGG_SQL,
        "text_lang_id": llmdata.TEXT_LANG_ID_SQL,
        "text_quality": llmdata.TEXT_QUALITY_SQL,
        "text_token_count": llmdata.TEXT_TOKEN_COUNT_SQL,
        "text_fingerprint": llmdata.TEXT_FINGERPRINT_SQL,
        "dedup_exact": llmdata.DEDUP_EXACT_SQL,
        "dedup_ngram_jaccard": llmdata.DEDUP_NGRAM_JACCARD_SQL,
        "dedup_components": llmdata.DEDUP_COMPONENTS_SQL,
        "dedup_components_star": llmdata.DEDUP_COMPONENTS_SQL,
        "dedup_chunks": llmdata.DEDUP_CHUNKS_SQL,
        "dedup_spans": llmdata.DEDUP_SPANS_SQL,
        "dedup_survivors": llmdata.DEDUP_SURVIVORS_SQL,
        "dedup_embedding": llmdata.DEDUP_EMBEDDING_SQL,
        "dedup_decontaminate": llmdata.DEDUP_DECONTAMINATE_SQL,
        "text_repetition": llmdata.TEXT_REPETITION_SQL,
        "text_lm_score": llmdata.TEXT_LM_SCORE_SQL,
        "text_winnow": llmdata.TEXT_WINNOW_SQL,
        "ann_topk": llmdata.ANN_TOPK_SQL,
        # ann_rp_topk (r11): the oracle embeds the SAME hash-seeded
        # JL sign matrix as literals and replays projection +
        # normalized dot in identical FP order — full value-hash
        # parity despite the float pipeline
        "ann_rp_topk": llmdata.ANN_RP_TOPK_SQL,
        # ann_rp_rerank (r11): the completed JL funnel — projected
        # top-800 overfetch (bit-identical fold) + exact 64-d rerank
        "ann_rp_rerank": llmdata.ANN_RP_RERANK_SQL,
        # search_hybrid_rrf (r11): RRF fusion of the BM25 and dense
        # top-20 lists; ranks assigned on 6-dp rounded scores with
        # doc_id tie-break, so the fused rational is integer-exact
        "search_hybrid_rrf": llmdata.SEARCH_HYBRID_RRF_SQL,
        "data_stratified_sample": llmdata.DATA_STRATIFIED_SAMPLE_SQL,
        # emb_pca (r11): the oracle re-derives the leading principal
        # component from its own materialized 12-step power-iteration
        # CTE chain (covariance rounded 6dp, iterates 9dp — both
        # engines eigen-solve the same rounded matrix) and re-projects
        # with the exact left-to-right fold
        "emb_pca": llmdata.EMB_PCA_SQL,
        # snapshot_diff (r11): CDC change feed between two persisted
        # snapshot versions, manifest-pruned to rewritten partitions;
        # oracle replays the mutation batch on the base table
        "snapshot_diff": ivm.SNAPSHOT_DIFF_SQL,
        # agg_incremental (r11): algebraic IVM — merged partials must
        # equal the oracle's from-scratch recompute
        "agg_incremental": ivm.AGG_INCREMENTAL_SQL,
        # stream_agg_incremental (r11): four real micro-batches of
        # versioned partial-agg deltas; monoid merge == one-pass agg
        "stream_agg_incremental": ivm.STREAM_AGG_INCREMENTAL_SQL,
        # events_cep_pattern (r11): MATCH_RECOGNIZE/Flink-CEP analog —
        # per-session regexp over the ordered type-initial sequence
        "events_cep_pattern": profiling.EVENTS_CEP_PATTERN_SQL,
        "events_markov_transitions": profiling.EVENTS_MARKOV_TRANSITIONS_SQL,
        # graph_label_prop (r11): 3 unrolled synchronous rounds over
        # the exact kNN graph, both engines derive graph AND rounds
        # independently
        "graph_label_prop": llmdata.GRAPH_LABEL_PROP_SQL,
        # graph_label_prop_indexed (r12): same rounds, kNN graph
        # served from the persisted IVF index over the planted-grid
        # corpus — the oracle replays the grid's id-arithmetic edge
        # truth (exact kNN by construction) through the same rounds
        "graph_label_prop_indexed": llmdata.GRAPH_LABEL_PROP_INDEXED_SQL,
        # r12 additions: typed PII audit (planted classes, fixed
        # redaction order, residual recount), per-dim embedding
        # drift between vec_id-parity snapshot halves, and
        # multi-touch attribution (first/last/linear-ppm integer
        # credit + decimal revenue)
        "text_pii_audit": llmdata.TEXT_PII_AUDIT_SQL,
        "emb_drift_report": llmdata.EMB_DRIFT_REPORT_SQL,
        "events_attribution": profiling.EVENTS_ATTRIBUTION_SQL,
        # metadata-filtered vector search: full-probe + allowed-ids
        # pushdown == exact filtered kNN, oracle = filtered brute
        # force; OHLC hourly bars: (ts, event_id)-deterministic
        # open/close picks on one (type, bucket) exchange
        "ann_filtered_topk": llmdata.ANN_FILTERED_TOPK_SQL,
        "ann_filtered_pq": llmdata.ANN_FILTERED_PQ_SQL,
        "search_mmr": llmdata.SEARCH_MMR_SQL,
        "emb_kmeans": llmdata.EMB_KMEANS_SQL,
        "scd2_pit_join": lakehouse.SCD2_PIT_JOIN_SQL,
        "data_compaction_plan": llmdata.DATA_COMPACTION_PLAN_SQL,
        "ann_range_search": llmdata.ANN_RANGE_SEARCH_SQL,
        "stream_drift_monitor": llmdata.STREAM_DRIFT_MONITOR_SQL,
        "events_path_analysis": profiling.EVENTS_PATH_ANALYSIS_SQL,
        "join_incremental": ivm.JOIN_INCREMENTAL_SQL,
        "stream_join_incremental": ivm.STREAM_JOIN_INCREMENTAL_SQL,
        "dedup_editdistance": llmdata.DEDUP_EDITDISTANCE_SQL,
        "graph_pagerank": llmdata.GRAPH_PAGERANK_SQL,
        "graph_pagerank_indexed": llmdata.GRAPH_PAGERANK_INDEXED_SQL,
        "text_quality_probe": llmdata.TEXT_QUALITY_PROBE_SQL,
        "text_quality_probe_incremental":
            llmdata.TEXT_QUALITY_PROBE_INCREMENTAL_SQL,
        "stream_quality_probe": llmdata.STREAM_QUALITY_PROBE_SQL,
        "events_ohlc_bars": profiling.EVENTS_OHLC_BARS_SQL,
        # the streaming drain must reproduce the SAME batch OHLC
        # relation, tie-breaks included
        "stream_ohlc_bars": profiling.EVENTS_OHLC_BARS_SQL,
        # events_ab_test (r11): two-proportion z on a deterministic
        # split; try_divide mirrors DuckDB's x/0.0 -> NULL
        "events_ab_test": profiling.EVENTS_AB_TEST_SQL,
        "q_cohort_ltv": profiling.Q_COHORT_LTV_SQL,
        # text_line_boilerplate (r11): planted-footer line-frequency
        # strip with a corpus-scaled threshold
        "text_line_boilerplate": llmdata.TEXT_LINE_BOILERPLATE_SQL,
        # dedup_containment (r11): asymmetric Broder containment over
        # the shingle index — planted snippet docs give id-arithmetic
        # truth
        "dedup_containment": llmdata.DEDUP_CONTAINMENT_SQL,
        # dedup_containment_bottomk (r12): the sketch path — oracle
        # replays the md5-ordered bottom-k sampling, the probe
        # cutoff, and the exact verify
        "dedup_containment_bottomk": llmdata.DEDUP_CONTAINMENT_BOTTOMK_SQL,
        # stream_cdc_scd2 (r11): ordered CDC batches streamed into a
        # type-2 dimension; oracle = unrolled 3-batch tri-state chain
        "stream_cdc_scd2": ivm.STREAM_CDC_SCD2_SQL,
        "ann_index_build": llmdata.ANN_INDEX_BUILD_SQL,
        "ann_index_refresh": llmdata.ANN_INDEX_REFRESH_SQL,
        # ann_compacted_query (r10): full-probe IVF is exact, so the
        # oracle recomputes the search as brute-force cosine top-k;
        # pre_match pins pre/post-compaction bit-identity, n_segments
        # and version pin the fold + lineage
        "ann_compacted_query": llmdata.ANN_COMPACTED_QUERY_SQL,
        # dedup_image_phash (r10): planted-transform pair set by id
        # arithmetic — recall AND precision of decode→pHash→block→
        # verify (transform hamming ≤4, cross-scene ≥12 measured)
        "dedup_image_phash": extras.DEDUP_IMAGE_PHASH_SQL,
        # vocab_bpe_train (r10): the DuckDB oracle replays the whole
        # training loop as an unrolled V-stage CTE — every learned
        # merge and its count independently recomputed
        "vocab_bpe_train": llmdata.VOCAB_BPE_TRAIN_SQL,
        # vocab_bpe_encode (r11): same unrolled replay, but the
        # oracle tokenizes from the FINAL re-segmentation stage and
        # independently re-counts token frequencies
        "vocab_bpe_encode": llmdata.VOCAB_BPE_ENCODE_SQL,
        "text_scrub": llmdata.TEXT_SCRUB_SQL,
        "text_commonness": llmdata.TEXT_COMMONNESS_SQL,
        "data_split": llmdata.DATA_SPLIT_SQL,
        "data_mixture": llmdata.DATA_MIXTURE_SQL,
        "data_cap_domains": llmdata.DATA_CAP_DOMAINS_SQL,
        "data_pack": llmdata.DATA_PACK_SQL,
        "data_shuffle": llmdata.DATA_SHUFFLE_SQL,
        "vocab_top_ngrams": llmdata.VOCAB_TOP_NGRAMS_SQL,
        "corpus_curation": corpus.CORPUS_CURATION_SQL,
        "corpus_prune": llmdata.CORPUS_PRUNE_SQL,
        "search_bm25": llmdata.SEARCH_BM25_SQL,
        "text_tfidf": llmdata.TEXT_TFIDF_SQL,
        "doc_chunks": llmdata.DOC_CHUNKS_SQL,
        "vocab_coverage": llmdata.VOCAB_COVERAGE_SQL,
        "emb_centroids": llmdata.EMB_CENTROIDS_SQL,
        "doc_length_hist": llmdata.DOC_LENGTH_HIST_SQL,
        "rag_retrieve": llmdata.RAG_RETRIEVE_SQL,
        "corpus_filter_funnel": llmdata.CORPUS_FILTER_FUNNEL_SQL,
        "data_interleave": llmdata.DATA_INTERLEAVE_SQL,
        "data_zorder": llmdata.DATA_ZORDER_SQL,
        "text_normalize": llmdata.TEXT_NORMALIZE_SQL,
        "data_contrastive_pairs": llmdata.DATA_CONTRASTIVE_SQL,
        "stream_events_window": extras.STREAM_EVENTS_WINDOW_SQL,
        "stream_sessionize": extras.STREAM_SESSIONIZE_SQL,
        "stream_dedup_events": extras.STREAM_DEDUP_EVENTS_SQL,
        "stream_user_totals": extras.STREAM_USER_TOTALS_SQL,
        "events_quantiles": profiling.EVENTS_QUANTILES_SQL,
        "profile_orders": profiling.PROFILE_ORDERS_SQL,
        "dq_orders": profiling.DQ_ORDERS_SQL,
        "events_anomalies": profiling.EVENTS_ANOMALIES_SQL,
        "events_hopping_window": profiling.EVENTS_HOPPING_WINDOW_SQL,
        "events_asof_join": profiling.EVENTS_ASOF_JOIN_SQL,
        "events_session_window": profiling.EVENTS_SESSION_WINDOW_SQL,
        "stream_static_join": extras.STREAM_STATIC_JOIN_SQL,
        "stream_stream_join": extras.STREAM_STREAM_JOIN_SQL,
        "events_range_join": extras.EVENTS_RANGE_JOIN_SQL,
        "events_gapfill": extras.EVENTS_GAPFILL_SQL,
        "events_funnel": extras.EVENTS_FUNNEL_SQL,
        "events_retention": extras.EVENTS_RETENTION_SQL,
        "q_salted_join": extras.Q_SALTED_JOIN_SQL,
        "mm_decode_meta": extras.MM_DECODE_META_SQL,
        "mm_decode_real": extras.MM_DECODE_REAL_SQL,
        "mm_frame_sample": extras.MM_FRAME_SAMPLE_SQL,
        "mm_resize": extras.MM_RESIZE_SQL,
        "src_csv_roundtrip": extras.SRC_CSV_ROUNDTRIP_SQL,
        "src_orc_roundtrip": extras.SRC_ORC_ROUNDTRIP_SQL,
        "src_jsonl_roundtrip": extras.SRC_JSONL_ROUNDTRIP_SQL,
        "mor_snapshot_asof": extras.MOR_SNAPSHOT_ASOF_SQL,
        "dedup_cross_source": llmdata.DEDUP_CROSS_SOURCE_SQL,
        "mm_decode_jpeg": extras.MM_DECODE_JPEG_SQL,
        "scd2_history": lakehouse.SCD2_HISTORY_SQL,
        "merge_cow_read": lakehouse.MERGE_COW_READ_SQL,
        "mm_decode_mp4": extras.MM_DECODE_MP4_SQL,
        "dedup_bloom": llmdata.DEDUP_BLOOM_SQL,
        "vocab_bpe_pairs": llmdata.VOCAB_BPE_PAIRS_SQL,
        "src_excel_roundtrip": extras.SRC_EXCEL_ROUNDTRIP_SQL,
        "src_rest_pages": extras.SRC_REST_PAGES_SQL,
        "stream_upsert_read": extras.STREAM_UPSERT_READ_SQL,
        "src_pyds_backfill": surfaces.SRC_PYDS_BACKFILL_SQL,
        "src_jsonl_quarantine": surfaces.SRC_JSONL_QUARANTINE_SQL,
        "sink_partition_upsert": surfaces.SINK_PARTITION_UPSERT_SQL,
        "compat_pandas_quarterly": surfaces.COMPAT_PANDAS_QUARTERLY_SQL,
        "pipeline_full_read": surfaces.PIPELINE_FULL_READ_SQL,
        "stream_session_window": extras.STREAM_SESSION_WINDOW_SQL,
        "stream_stream_left_join": extras.STREAM_STREAM_LEFT_JOIN_SQL,
        "sql_udtf_sessionize": surfaces.SQL_UDTF_SESSIONIZE_SQL,
        "dedup_incremental": llmdata.DEDUP_INCREMENTAL_SQL,
        "text_gopher_rules": llmdata.TEXT_GOPHER_RULES_SQL,
        "text_script_profile": llmdata.TEXT_SCRIPT_PROFILE_SQL,
        "data_curriculum": llmdata.DATA_CURRICULUM_SQL,
        "emb_quantize_int8": llmdata.EMB_QUANTIZE_INT8_SQL,
        "events_windowed_topk": profiling.EVENTS_WINDOWED_TOPK_SQL,
        "data_token_budget": llmdata.DATA_TOKEN_BUDGET_SQL,
        "text_langid_confusion": llmdata.TEXT_LANGID_CONFUSION_SQL,
        "text_lang_id_cjk": llmdata.TEXT_LANG_ID_CJK_SQL,
        # append-mode drain with anchored cutoff: oracle replays the
        # same cutoff in batch SQL (no longer shares the batch top-k
        # oracle, which has no cutoff)
        "stream_windowed_topk": extras.STREAM_WINDOWED_TOPK_SQL,
        "src_rest_live": surfaces.SRC_REST_LIVE_SQL,
        "src_rest_flaky": surfaces.SRC_REST_FLAKY_SQL,
        "join_bucketed": surfaces.JOIN_BUCKETED_SQL,
        "mm_audio_features": extras.MM_AUDIO_FEATURES_SQL,
        "mm_video_sample": extras.MM_VIDEO_SAMPLE_SQL,
        "mor_compacted_read": extras.MOR_COMPACTED_READ_SQL,
        "text_chunk_filter": llmdata.TEXT_CHUNK_FILTER_SQL,
        "data_shard_manifest": llmdata.DATA_SHARD_MANIFEST_SQL,
        "search_phrase": llmdata.SEARCH_PHRASE_SQL,
        "events_sla_breach": profiling.EVENTS_SLA_BREACH_SQL,
        "stream_anomaly_alerts": extras.STREAM_ANOMALY_ALERTS_SQL,
        # dedup_minhash: verified at MINHASH_CONTRACT_THRESHOLD, where
        # 16x4 banding recall is deterministic in practice — full oracle.
        "dedup_minhash": llmdata.DEDUP_MINHASH_SQL,
        # profile_sketches emits in-query accuracy assertions
        # (|approx − exact| within bound booleans) — oracle-backed
        # as of r7 even though the raw sketch values are
        # engine-specific.
        "profile_sketches": profiling.PROFILE_SKETCHES_SQL,
        # dedup_simhash graduated to a FULL equality oracle in r8:
        # portable md5 token hash + permuted-prefix blocking
        # (deterministic for hamming <= 7) + exact multiset-jaccard
        # verification make every stage cross-engine deterministic.
        "dedup_simhash": llmdata.DEDUP_SIMHASH_SQL,
        # dedup_semantic graduated to oracle-backed in r8: the
        # query emits in-query assertions (planted exact-copy pairs
        # found + JVM-recheck fp_free) that DuckDB replays as the
        # expected constant relation.
        "dedup_semantic": llmdata.DEDUP_SEMANTIC_SQL,
        # ann_semantic_sweep (r9): SemDeDup served from the persisted
        # index across a refresh boundary; planted exact-copy pairs
        # are deterministically found (frozen-centroid cell identity),
        # so the oracle is the expected constant relation.
        "ann_semantic_sweep": llmdata.ANN_SEMANTIC_SWEEP_SQL,
        # stream_index_refresh (r9): after the streamed drain the
        # index holds the whole table, so full-probe ivf == exact
        # brute force == the ann_topk oracle relation.
        "stream_index_refresh": llmdata.STREAM_INDEX_REFRESH_SQL,
        "text_gopher_multiscript": llmdata.TEXT_GOPHER_MULTISCRIPT_SQL,
        # ann_lsh / ann_ivf / ann_pq are engine-specific
        # (random-plane / k-means internals) → rows-only driver
        # check; quality pinned by recall/accuracy tests + bench
        # metrics instead.
    }
