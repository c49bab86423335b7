#!/usr/bin/env python
"""Second measured decade: the most expensive query shapes at sf10
(100x sf0.1; tools_make_sf10.py) vs the sf1 point, gated on the same
host-independent invariants as tools_bench_sf1.py — shuffle BYTES
must grow at most ~linearly (≤ ~13x at 10x data), exchange counts
must not grow, zero BroadcastNestedLoopJoin, zero spill.

Measurement protocol differs from the sf1 harness in one way: ONE
metered run per (query, sf) instead of cold+steady+metered — at sf10
a steady re-run of the dedup tier costs minutes per query, and the
gated quantities (bytes, exchanges, spill) are plan-deterministic,
identical on any run. Wall times are published as context, not gate.

Run: python tools_make_sf10.py && python tools_bench_sf10.py
Output: sf10_top10.json
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import __spark_entry__ as entrymod  # noqa: E402
from etl_npl_pipeline_spark.metrics import run_with_metrics  # noqa: E402
from etl_npl_pipeline_spark.session import get_spark  # noqa: E402

SF1_DIR = os.path.join(HERE, ".tmp", "sf1")
SF10_DIR = os.path.join(HERE, ".tmp", "sf10")
SF01_DIR = "/root/testdata/sf0.1"

# The r7 sf1 ranking's most expensive shapes: the full dedup/curation
# tier (shingle indexes, iterative components, pair explosion risk),
# the dual-stream joins (state scale), and the two heaviest TPC-H
# joins. These are the queries whose plans would be the first to go
# quadratic at 100 TB.
TIER = [
    "corpus_curation",
    "dedup_components",
    "dedup_components_star",
    "data_contrastive_pairs",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_spans",
    "dedup_simhash",
    "stream_stream_left_join",
    "stream_stream_join",
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    # r8: the media tier's per-replica slices scale payload count
    # 100x at sf10 — the second measured decade for the Arrow codec
    # path (sf1 measured x3.2-5.6 bytes at 10x payloads)
    "mm_decode_jpeg",
    "mm_decode_meta",
    "mm_audio_features",
    # r12: the second measured decade for the index-served label-prop
    # graph (the x46.9 exact-path fix — bytes must stay ~linear at
    # x100 too) and the skew-linear attribution equi-join
    "graph_label_prop_indexed",
    "events_attribution",
    # r13 (VERDICT r12 #8): the r12 heavy additions — bottomk's k·N
    # probe claim and the filtered search's candidate-shrink claim
    # are exactly the shapes to measure at the second decade
    "dedup_containment_bottomk",
    "ann_filtered_topk",
    # r13 session 2: the new shapes with real data scaling — Lloyd
    # rounds (K x 64 partial sums), the streaming drift fold, the
    # events path prefix window, and the delta-broadcast join IVM
    "emb_kmeans",
    "stream_drift_monitor",
    "events_path_analysis",
    "join_incremental",
    "scd2_pit_join",
    "data_compaction_plan",
    "dedup_editdistance",
]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> None:
    for d in (SF1_DIR, SF10_DIR):
        if not os.path.isdir(d):
            sys.exit(f"missing {d}: run the generator first")
    subset = [a for a in sys.argv[1:] if a in TIER]
    run_queries = subset or TIER
    spark = get_spark("bench-sf10")
    queries = entrymod.queries()
    queries["q6_forecast_revenue"](spark, SF01_DIR).count()
    from pyspark.sql.functions import pandas_udf as _pudf

    spark.range(10).select(_pudf(lambda s: s, "long")("id")).count()

    out_path = os.path.join(HERE, "sf10_top10.json")
    out: dict[str, dict] = {}
    if subset and os.path.exists(out_path):
        with open(out_path) as fh:
            out = json.load(fh)["queries"]
    # Index-lifecycle queries build a PERSISTED artifact on first
    # touch of a corpus; metering that first run charges the
    # train-once cost (k-means + artifact writes, including their
    # sort-spill) to the query and breaks the decade comparison —
    # the sf1 side usually finds its index already published in the
    # warehouse while the sf10 side never does. One unmetered warm
    # pass per dir puts both measurements in the steady serve regime
    # (the sf1 harness's steady-run convention, and the production
    # regime: built once, served many).
    WARM_FIRST = {"graph_label_prop_indexed", "ann_filtered_topk"}
    for name in run_queries:
        fn = queries[name]

        def _noop(d):
            fn(spark, d).write.format("noop").mode("overwrite").save()

        if name in WARM_FIRST:
            _noop(SF1_DIR)
            _noop(SF10_DIR)
        m1 = run_with_metrics(spark, lambda: _noop(SF1_DIR))
        plan1 = _plan(fn(spark, SF1_DIR))
        m10 = run_with_metrics(spark, lambda: _noop(SF10_DIR))
        plan10 = _plan(fn(spark, SF10_DIR))
        sw1, sw10 = m1["shuffle_write_bytes"], m10["shuffle_write_bytes"]
        out[name] = {
            "sf1_sec": round(m1["wall_sec"], 3),
            "sf10_sec": round(m10["wall_sec"], 3),
            "wall_ratio_x10": round(
                m10["wall_sec"] / max(m1["wall_sec"], 1e-9), 2
            ),
            "bnlj_in_sf10_plan": "BroadcastNestedLoop" in plan10,
            "exchanges_sf10": plan10.count("Exchange "),
            "exchanges_sf1": plan1.count("Exchange "),
            "shuffle_mb_sf1": round(sw1 / 1e6, 3),
            "shuffle_mb_sf10": round(sw10 / 1e6, 3),
            "shuffle_byte_ratio_x10": (
                round(sw10 / sw1, 2) if sw1 > 0 else None
            ),
            "spill_bytes_sf10": m10["memory_spill_bytes"]
            + m10["disk_spill_bytes"],
        }
        print(name, json.dumps(out[name]), flush=True)

    doc = {
        "sf10_rows": {
            "lineitem": 60_000_000,
            "events": 10_000_000,
            "documents": 500_000,
        },
        "note": (
            "100x key-shifted replication of sf0.1 "
            "(tools_make_sf10.py: affine ciphers keep replica "
            "vocabularies disjoint, md5 sign-pattern offsets keep "
            "replica embeddings below the semantic-dup threshold). "
            "Gates are the host-independent ones: shuffle bytes "
            "<= ~13x at 10x data, exchange counts unchanged, no "
            "BNLJ, no spill. Wall times are context (single metered "
            "run; see module docstring)."
        ),
        "outlier_notes": {
            "q21_waiting_suppliers": (
                "bytes ratio ~30x is a broadcast->SMJ phase change "
                "at the 64MB threshold (orders stops being "
                "broadcastable above sf1), not superlinear work; "
                "with autoBroadcastJoinThreshold=-1 at both scales "
                "the ratio is x9.86 (see q21_smj_probe) — linear "
                "within the SMJ regime"
            ),
            "events_attribution": (
                "bytes x15.55 with exchange growth 29->34 is the "
                "same broadcast phase change (five sub-joins "
                "broadcastable at sf1, shuffled at sf10); probed "
                "r12 with autoBroadcastJoinThreshold=-1 at both "
                "scales: x10.06 bytes, 34 exchanges at BOTH scales, "
                "zero spill — exactly linear within the shuffle "
                "regime (probe: sf1 123.8 MB / sf10 1245.2 MB)"
            ),
        },
        "queries": out,
        "total_sf10_sec": round(
            sum(v["sf10_sec"] for v in out.values()), 2
        ),
        "any_bnlj": any(v["bnlj_in_sf10_plan"] for v in out.values()),
        "any_exchange_growth": any(
            v["exchanges_sf10"] > v["exchanges_sf1"] for v in out.values()
        ),
        "any_spill": any(v["spill_bytes_sf10"] > 0 for v in out.values()),
        "superlinear_shuffle": sorted(
            n
            for n, v in out.items()
            if v.get("shuffle_byte_ratio_x10") is not None
            and v["shuffle_byte_ratio_x10"] > 13
            and v["shuffle_mb_sf10"] > 5
        ),
    }
    with open(out_path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
