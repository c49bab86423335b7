#!/usr/bin/env python
"""Corpus-as-queries recall grid at sf1 (VERDICT r10 #8 / r9 #5).

The point of the distributed brute-force verifier rewrite was to let
the EXACT yardstick itself score corpus-as-queries sweeps at sf1+,
where the r10 chunk grid engages (|Q| > 1,000 queries, 2 PQ query
chunks). With the r11 key-type fix in place (cogroup chunk ids cast
to long on both sides), this harness measures recall@5 of each
persisted-index approximate path — lsh_query / ivf_query / pq_query —
against chunked ``brute_force_topk`` with |Q| = |corpus| = 20,000 at
the sf1 dataset (tools_make_scale.py sf1), using the SAME knobs as the
contract queries (plans/llmdata.py LSH_KNOBS/IVF_KNOBS/PQ_KNOBS).

Publishes sf1_recall_grid.json; bench.py republishes it into
bench_detail.json["sf1_recall_grid"] next to the sf0.1 recall block.

Run: python tools_make_scale.py sf1 && python tools_recall_grid_sf1.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from etl_npl_pipeline_spark.session import get_spark  # noqa: E402

SF1_DIR = os.path.join(HERE, ".tmp", "sf1")


def main() -> None:
    if not os.path.isdir(SF1_DIR):
        sys.exit("run tools_make_scale.py sf1 first")
    spark = get_spark("sf1-recall-grid")
    from etl_npl_pipeline_spark.operators import similarity as S
    from etl_npl_pipeline_spark.operators.ann_index import (
        ivf_query,
        lsh_query,
        pq_query,
    )
    from etl_npl_pipeline_spark.plans.llmdata import (
        ANN_K,
        IVF_KNOBS,
        LSH_KNOBS,
        PQ_KNOBS,
        _ann_index,
        _emb,
    )

    corpus = _emb(spark, SF1_DIR)
    n = corpus.count()
    idx = _ann_index(spark, SF1_DIR)

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    t0 = time.time()
    # |Q| = |corpus| = 20,000 > query_chunk_rows=1,000 → the chunk
    # grid engages on the query side (20 blocks); this is exactly the
    # regime the r10 int/bigint key bug silently dropped cells in.
    exact = pairs(S.brute_force_topk(corpus, corpus, k=ANN_K))
    exact_sec = time.time() - t0
    n_exact = len(exact)

    out: dict[str, dict] = {}
    runs = {
        "lsh": lambda: lsh_query(spark, idx, corpus, k=ANN_K, **LSH_KNOBS),
        "ivf": lambda: ivf_query(
            spark, idx, corpus, k=ANN_K, n_probe=IVF_KNOBS["n_probe"]
        ),
        "pq": lambda: pq_query(
            spark, idx, corpus, k=ANN_K,
            rerank_factor=PQ_KNOBS["rerank_factor"],
        ),
    }
    for name, fn in runs.items():
        t0 = time.time()
        got = pairs(fn())
        out[name] = {
            "recall_at_5": round(len(exact & got) / max(n_exact, 1), 4),
            "sec": round(time.time() - t0, 2),
        }
        print(name, json.dumps(out[name]), flush=True)

    doc = {
        "sf": "1.0 (10x replication of sf0.1)",
        "corpus_rows": n,
        "queries": "corpus-as-queries (|Q| = |corpus|)",
        "k": ANN_K,
        "exact_pairs": n_exact,
        "exact_verifier_sec": round(exact_sec, 2),
        "exact_verifier": (
            "chunked brute_force_topk, 20 query chunks x 1 corpus "
            "chunk (grid engaged; r11 long-key fix)"
        ),
        "recall": out,
        "caveat": (
            "sf1 replicas are tiny-offset near-copies of sf0.1 rows, "
            "so each query's true top-5 is replica-dominated — an "
            "easier retrieval problem than sf0.1's 20-query probe "
            "set. The grid shows the index paths hold quality when "
            "BOTH sides scale 10x, not that they improved."
        ),
        "cost_note": (
            "measured architecture lesson: at |Q| = |corpus|, the "
            "block-matmul paths (chunked exact brute force, PQ ADC) "
            "run ~20x faster than the per-candidate equi-join paths "
            "(multiprobe LSH ~21k candidates/query x 20k queries "
            "through join+distinct+window; IVF 8/12 probed cells "
            "similar). LSH/IVF are the right shape for SMALL query "
            "batches against a big persisted index; corpus-as-"
            "queries sweeps should route through ADC or the chunk "
            "grid — which is exactly what ann_semantic_sweep and "
            "dedup_semantic do."
        ),
    }
    with open(
        os.path.join(HERE, "sf1_recall_grid.json"),
        "w",
    ) as fh:
        json.dump(doc, fh, indent=1)
    print(json.dumps({k: doc[k] for k in ("corpus_rows", "exact_pairs")}))


if __name__ == "__main__":
    main()
