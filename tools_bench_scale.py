#!/usr/bin/env python
"""Measure a scale build (tools_make_scale.py) against its reference
point and merge the result into the build's committed record
(bench.py republishes sf1_top30.json as bench_detail.json["sf1_top30"]).

  build       reference -> target             record
  sf1         sf0.1 -> .tmp/sf1               sf1_top30.json
  sf10        .tmp/sf1 -> .tmp/sf10           sf10_top10.json
  sf1_skewed  .tmp/sf1 -> .tmp/sf1_skewed     sf1_skewed.json

Per query, on the reference and then on the target: one warm run
(its wall time is the target's cold time; it also publishes any
persisted index, so both sides are measured in the steady serve
regime), then one run metered by metrics.run_with_metrics (wall,
shuffle and spill bytes). The exchange count and BroadcastNestedLoop
check read a fresh plan of each side; the AQE skew-split markers read
the metered run's final adaptive plan. Bytes, exchanges, spill and
BNLJ are host-independent; wall times are context.

A run rewrites the entries of the queries it measures and the summary
keys derived from them, and keeps every other key of the record (the
adjudication prose lives there). A full run (no query named) also
measures recall@5 of the approximate ANN indexes on the target.

Run: python tools_make_scale.py sf1 && python tools_bench_scale.py sf1
Subset re-measure: python tools_bench_scale.py sf1 text_tfidf search_bm25
"""

from __future__ import annotations

import json
import os
import sys
import time
from typing import NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import __spark_entry__ as entrymod  # noqa: E402
from etl_npl_pipeline_spark.metrics import run_with_metrics  # noqa: E402
from etl_npl_pipeline_spark.session import get_spark  # noqa: E402

SF01_DIR = "/root/testdata/sf0.1"
TMP = os.path.join(HERE, ".tmp")

SF1_QUERIES = [
    # the r5 sf0.1 steady-state top-10, kept first so sf1 numbers stay
    # comparable round over round
    "pipeline_full_read", "corpus_curation", "dedup_components_star",
    "stream_stream_left_join", "dedup_components", "data_contrastive_pairs",
    "dedup_bloom", "stream_stream_join", "sql_udtf_sessionize", "ann_ivf",
    # dedup, text, streaming, ANN and Arrow-media tiers
    "dedup_minhash", "dedup_simhash", "dedup_exact", "dedup_ngram_jaccard",
    "dedup_embedding", "dedup_semantic", "dedup_incremental",
    "dedup_decontaminate", "dedup_cross_source", "dedup_chunks",
    "text_tfidf", "search_bm25", "text_normalize", "text_gopher_rules",
    "text_lang_id", "vocab_bpe_pairs", "text_winnow",
    "stream_events_window", "stream_sessionize", "stream_user_totals",
    "stream_dedup_events", "stream_session_window", "stream_windowed_topk",
    "stream_anomaly_alerts",
    "ann_index_build", "ann_lsh", "ann_pq", "ann_topk",
    "ann_compacted_query", "ann_rp_topk", "vocab_bpe_train",
    "vocab_bpe_encode",
    "dedup_image_phash", "mm_decode_meta", "mm_decode_jpeg",
    "mm_audio_features", "mm_video_sample", "mm_resize", "mm_frame_sample",
    # r11-r13 additions
    "search_hybrid_rrf", "emb_pca", "graph_label_prop",
    "text_line_boilerplate", "snapshot_diff", "agg_incremental",
    "stream_agg_incremental", "events_cep_pattern",
    "events_markov_transitions", "q_cohort_ltv", "events_ab_test",
    "data_stratified_sample", "dedup_containment", "stream_cdc_scd2",
    "graph_label_prop_indexed", "dedup_containment_bottomk", "ann_rp_rerank",
    "text_pii_audit", "emb_drift_report", "events_attribution",
    "ann_filtered_topk", "events_ohlc_bars", "stream_ohlc_bars",
    "search_mmr", "text_quality_probe", "ann_filtered_pq", "emb_kmeans",
    "scd2_pit_join", "data_compaction_plan", "ann_range_search",
    "stream_drift_monitor", "events_path_analysis", "dedup_editdistance",
    "graph_pagerank", "graph_pagerank_indexed", "join_incremental",
    "stream_join_incremental",
]

# the shapes that would be the first to go quadratic at 100 TB: the
# dedup/curation tier, dual-stream joins, heavy TPC-H joins, the media
# codecs and the index-served graph
SF10_QUERIES = [
    "corpus_curation", "dedup_components", "dedup_components_star",
    "data_contrastive_pairs", "dedup_minhash", "dedup_ngram_jaccard",
    "dedup_spans", "dedup_simhash", "stream_stream_left_join",
    "stream_stream_join", "q2_min_cost_supplier", "q21_waiting_suppliers",
    "mm_decode_jpeg", "mm_decode_meta", "mm_audio_features",
    "graph_label_prop_indexed", "events_attribution",
    "dedup_containment_bottomk", "ann_filtered_topk", "emb_kmeans",
    "stream_drift_monitor", "events_path_analysis", "join_incremental",
    "scd2_pit_join", "data_compaction_plan", "dedup_editdistance",
]

# the heavy tier, the dedup tier the hub documents hit, and the joins
# and groupBys on the mega-customer, hot supplier and bot user
SKEWED_QUERIES = [
    "pipeline_full_read", "corpus_curation", "dedup_components_star",
    "stream_stream_left_join", "dedup_components", "data_contrastive_pairs",
    "dedup_bloom", "stream_stream_join", "sql_udtf_sessionize", "ann_ivf",
    "dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_semantic", "dedup_incremental",
    "q13_order_distribution", "q18_large_orders", "q21_waiting_suppliers",
    "q9_product_profit", "events_sessionize", "stream_user_totals",
    "events_attribution", "events_ohlc_bars", "dedup_containment_bottomk",
    "q_cohort_ltv",
]


class Build(NamedTuple):
    ref_dir: str
    ref: str  # field tag of the reference side
    target_dir: str
    tag: str  # field tag of the target side
    x: int  # data multiple of the target over the reference
    record: str
    queries: list

    @property
    def sfx(self) -> str:
        """Suffix of the ratio fields: a 10x build names its multiple."""
        return f"_x{self.x}" if self.x > 1 else ""


BUILDS = {
    "sf1": Build(SF01_DIR, "sf01", os.path.join(TMP, "sf1"), "sf1", 10,
                 "sf1_top30.json", SF1_QUERIES),
    "sf10": Build(os.path.join(TMP, "sf1"), "sf1", os.path.join(TMP, "sf10"),
                  "sf10", 10, "sf10_top10.json", SF10_QUERIES),
    "sf1_skewed": Build(os.path.join(TMP, "sf1"), "flat",
                        os.path.join(TMP, "sf1_skewed"), "skew", 1,
                        "sf1_skewed.json", SKEWED_QUERIES),
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _measure(spark, fn, d: str) -> dict:
    """Warm run, then metered run, of ``fn`` on ``d``."""
    def run():
        df = fn(spark, d)
        df.write.format("noop").mode("overwrite").save()
        return df

    t0 = time.time()
    run()
    cold = time.time() - t0
    held = []
    m = run_with_metrics(spark, lambda: held.append(run()))
    m["cold_sec"] = cold
    m["final_plan"] = _plan(held[0])
    m["plan"] = _plan(fn(spark, d))
    return m


def _entry(b: Build, r: dict, t: dict) -> dict:
    R, T, S = b.ref, b.tag, b.sfx
    sw_r, sw_t = r["shuffle_write_bytes"], t["shuffle_write_bytes"]
    final = t["final_plan"]
    return {
        f"{T}_cold_sec": round(t["cold_sec"], 3),
        f"{T}_steady_sec": t["wall_sec"],
        f"{R}_steady_sec": r["wall_sec"],
        f"wall_ratio{S}": round(t["wall_sec"] / max(r["wall_sec"], 1e-9), 2),
        f"shuffle_mb_{R}": round(sw_r / 1e6, 3),
        f"shuffle_mb_{T}": round(sw_t / 1e6, 3),
        f"shuffle_byte_ratio{S}": round(sw_t / sw_r, 2) if sw_r > 0 else None,
        f"spill_bytes_{T}": t["memory_spill_bytes"] + t["disk_spill_bytes"],
        f"exchanges_{R}": r["plan"].count("Exchange "),
        f"exchanges_{T}": t["plan"].count("Exchange "),
        f"bnlj_in_{T}_plan": "BroadcastNestedLoop" in t["plan"],
        "aqe_skew_split": "skewed=true" in final or "isSkew=true" in final
        or ("AQEShuffleRead" in final and "skewed" in final),
    }


def _summary(b: Build, out: dict) -> dict:
    R, T, S = b.ref, b.tag, b.sfx
    rows = out.values()
    return {
        f"total_{T}_steady_sec": round(
            sum(v[f"{T}_steady_sec"] for v in rows), 2),
        "any_bnlj": any(v[f"bnlj_in_{T}_plan"] for v in rows),
        "any_exchange_growth": any(
            v.get(f"exchanges_{T}", 0) > v.get(f"exchanges_{R}", 0)
            for v in rows),
        "any_spill": any(v[f"spill_bytes_{T}"] > 0 for v in rows),
        # > 1.3x the data multiple in shuffle bytes (5 MB floor against
        # noise-scale plans): the quadratic-blowup flag that wall-time
        # noise cannot fake
        "superlinear_shuffle": sorted(
            n for n, v in out.items()
            if (v[f"shuffle_byte_ratio{S}"] or 0) > 1.3 * b.x
            and v[f"shuffle_mb_{T}"] > 5),
    }


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in BUILDS:
        sys.exit(f"usage: tools_bench_scale.py <{'|'.join(BUILDS)}> [query ...]")
    b = BUILDS[sys.argv[1]]
    for d in (b.ref_dir, b.target_dir):
        if not os.path.isdir(d):
            sys.exit(f"missing {d}: run tools_make_scale.py first")
    subset = sys.argv[2:]
    unknown = sorted(set(subset) - set(b.queries))
    if unknown:
        sys.exit(f"not in the {sys.argv[1]} query list: {unknown}")
    spark = get_spark(f"bench-{sys.argv[1]}")
    queries = entrymod.queries()
    # warm the session and the Arrow workers once
    queries["q6_forecast_revenue"](spark, b.ref_dir).count()
    from pyspark.sql.functions import pandas_udf as _pudf

    spark.range(10).select(_pudf(lambda s: s, "long")("id")).count()

    out_path = os.path.join(HERE, b.record)
    doc: dict = {}
    if os.path.exists(out_path):
        with open(out_path) as fh:
            doc = json.load(fh)
    out = doc.setdefault("queries", {})
    for name in subset or b.queries:
        fn = queries[name]
        out[name] = _entry(b, _measure(spark, fn, b.ref_dir),
                           _measure(spark, fn, b.target_dir))
        print(name, json.dumps(out[name]), flush=True)
    doc.update(_summary(b, out))

    if not subset:
        # the approximate indexes must hold their quality as the
        # corpus grows, not just their wall time
        def _pairs(name):
            return {(r["query_id"], r["neighbor_id"])
                    for r in queries[name](spark, b.target_dir).collect()}

        exact = _pairs("ann_topk")
        doc[f"recall_at_5_{b.tag}"] = {
            name: round(len(exact & _pairs(name)) / max(len(exact), 1), 4)
            for name in ("ann_lsh", "ann_ivf", "ann_pq")
        }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
