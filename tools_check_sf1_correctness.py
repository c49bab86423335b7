#!/usr/bin/env python
"""Correctness at scale: run a representative slice of the
oracle-backed contract queries at the sf1.0 dataset
(tools_make_scale.py sf1) and cross-check against DuckDB running the
SAME oracle SQL over the SAME parquet — the sf0.01 driver check, one
order of magnitude up. Publishes sf1_correctness.json (bench.py
republishes it into bench_detail.json["sf1_correctness"]).

The slice spans every plan family: TPC-H joins/aggs, window
functions, events sessionization, LLM-data dedup/quality, the NPL
pipeline, and the new bucketed join. Streaming and fixture-building
queries are excluded (their oracles replay the same logic — scale
behavior is covered by tools_bench_scale.py's timing/plan checks).

Run: python tools_make_scale.py sf1 && python tools_check_sf1_correctness.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import __spark_entry__ as entrymod  # noqa: E402
from etl_npl_pipeline_spark.session import get_spark  # noqa: E402

SF1_DIR = os.path.join(HERE, ".tmp", "sf1")

# r7: the checked slice is now EVERYTHING oracle-backed minus the
# documented exclusions below — "correct at sf1" is a whole-contract
# claim, not a sampled one.
EXCLUDE = {
    # recursive-CTE oracles: DuckDB replays connected components /
    # the full curation composition as a recursive CTE — minutes at
    # sf1; Spark-side scale behavior is covered by tools_bench_scale.py
    "dedup_components",
    "dedup_components_star",
    "corpus_curation",
    # r9: the SimHash oracle is now GROUND-TRUTH brute force (md5
    # bits -> 64 signed bit-sums -> all-pairs hamming over 50k docs
    # = 1.25e9 chunk-pair rows in DuckDB) — still an oracle-cost
    # exclusion, not a Spark-side scale problem (Spark measured at
    # sf1 AND sf10 in the byte-linearity harnesses with a planted
    # blocking-recall probe of 1.0; oracle equality driver-checked
    # at sf0.01)
    "dedup_simhash",
    # r11: the label-prop oracle derives the exact kNN graph by
    # all-pairs cosine in DuckDB (50k x 50k x 64-dim list_reduce at
    # sf1 = 1.6e11 lambda evals) — oracle-cost exclusion only; the
    # Spark side builds the graph with the chunked brute-force
    # cogroup, whose sf1 behavior is measured in the recall grid and
    # byte-linearity harnesses
    "graph_label_prop",
    # same all-pairs-cosine oracle cost as graph_label_prop (the
    # capped yardstick graph at 20k nodes = 1.6e11 lambda evals in
    # DuckDB); Spark-side sf1 behavior measured in the byte harness
    "graph_pagerank",
    # r11: emb_pca's oracle re-derives the covariance by an
    # e x dims x dims join (205M intermediate rows at sf1) — 29 min
    # in DuckDB. Measured ONCE at sf1 in r11: match=true, sec=1739
    # (kept in sf1_correctness.json); excluded from routine re-runs
    # as oracle cost only — the Spark moments stage is the _spread
    # pair-explode with map-side partials, measured in bench_sf1
    "emb_pca",
    # streaming drains: the oracle replays the same batch logic the
    # batch twin already checks; sf1 drain timing/plan behavior is
    # covered by tools_bench_scale.py's sf1 stream tier
    "stream_events_window",
    "stream_sessionize",
    "stream_dedup_events",
    "stream_static_join",
    "stream_stream_join",
    "stream_stream_left_join",
    "stream_user_totals",
    "stream_session_window",
    "stream_windowed_topk",
    "stream_anomaly_alerts",
    "stream_upsert_read",
    "stream_ohlc_bars",
    # fixture-rebuild queries: they manufacture their own inputs
    # (excel/CSV/REST loopback, MOR/CoW/SCD2 warehouse builds, the
    # zorder rewrite, full-pipeline segmented writes) — sf_dir only
    # parameterizes a fixed-size fixture, so sf1 adds no coverage
    "src_csv_roundtrip",
    "src_excel_roundtrip",
    "src_rest_pages",
    "src_rest_live",
    "src_json_props",
    "src_orc_roundtrip",
    "src_jsonl_roundtrip",
    "src_jsonl_quarantine",
    "src_pyds_backfill",
    "sink_partition_upsert",
    "merge_cow_read",
    "mor_snapshot_asof",
    "mor_compacted_read",
    "scd2_history",
    "data_zorder",
    "pipeline_full_read",
    "npl_assemble",
    "compat_pandas_quarterly",
    "fn_quarter_reformat",
    "fn_quarter_of_date",
    "fn_strip_suffix",
    "fn_parse_number",
    "op_ffill",
    "op_melt",
    "op_unpivot_native",
    "op_pivot",
    "op_segment",
    "npl_by_segment",
}


def _norm(v):
    # 12 significant digits, not fixed decimals: sf1 money sums reach
    # ~4e10, where the driver's %.6f would demand 17 significant
    # digits — beyond float64 — and flag 1-ULP aggregation-order
    # noise (measured: q1 sum_charge differed by 1 ULP at sf1, exact
    # at sf0.1). 12 sig figs is still far below any real tolerance.
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.12g}"
    return str(v)


def main() -> None:
    if not os.path.isdir(SF1_DIR):
        sys.exit("run tools_make_scale.py sf1 first")
    spark = get_spark("sf1-correctness")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # ONE view-creation path repo-wide: tests.oracle.duck_con handles
    # mixed-vintage directory tables (union_by_name) exactly like the
    # test suite's oracle, so this harness can never silently diverge
    # from it (r7 ADVICE).
    from tests.oracle import duck_con

    con = duck_con(SF1_DIR)
    check = sorted(n for n in oracles if n not in EXCLUDE)
    subset = [a for a in sys.argv[1:] if a in oracles]
    out: dict[str, dict] = {}
    if subset:
        # re-measure a few queries and merge into the existing doc
        check = subset
        out_p = os.path.join(HERE, "sf1_correctness.json")
        if os.path.exists(out_p):
            with open(out_p) as fh:
                out = json.load(fh)["queries"]
    print(f"checking {len(check)} of {len(oracles)} oracle-backed queries")
    for name in check:
        t0 = time.time()
        sdf = queries[name](spark, SF1_DIR)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
        o = con.execute(oracles[name])
        ocols = [d[0] for d in o.description]
        orows = o.fetchall()
        order_s = sorted(range(len(scols)), key=lambda i: scols[i])
        order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
        cs = sorted(tuple(_norm(r[i]) for i in order_s) for r in srows)
        co = sorted(tuple(_norm(r[i]) for i in order_o) for r in orows)
        out[name] = {
            "rows": len(srows),
            "oracle_rows": len(orows),
            "match": sorted(scols) == sorted(ocols) and cs == co,
            "sec": round(time.time() - t0, 2),
        }
        print(name, json.dumps(out[name]), flush=True)
    # Coverage gate (r11 ADVICE): in subset-merge mode the doc's
    # checked/all_match only spoke for the merged dict, so a query
    # that was never measured at sf1 (ann_rp_rerank slipped through
    # in r11) was undetectable from the artifact. The published doc
    # now names every oracle-backed, non-excluded query it does NOT
    # cover, and covers_contract is the single bit a reader needs.
    missing = sorted(
        n for n in oracles if n not in EXCLUDE and n not in out
    )
    if missing:
        print(
            f"WARNING: sf1 doc does not cover {len(missing)} "
            f"oracle-backed queries: {missing}",
            file=sys.stderr,
        )
    doc = {
        "sf": "1.0 (10x replication of sf0.1)",
        "checked": len(out),
        "all_match": all(v["match"] for v in out.values()),
        "covers_contract": not missing,
        "not_covered": missing,
        "queries": out,
    }
    with open(
        os.path.join(HERE, "sf1_correctness.json"), "w",
    ) as fh:
        json.dump(doc, fh, indent=1)
    print(
        json.dumps(
            {
                k: doc[k]
                for k in ("checked", "all_match", "covers_contract")
            }
        )
    )


if __name__ == "__main__":
    main()
