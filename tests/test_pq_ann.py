"""PQ (product quantization) ANN: code shape, compression invariant,
ADC accuracy, and the exact verifier's grid invariance."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from etl_npl_pipeline_spark.operators.ivf import _train_sample
from etl_npl_pipeline_spark.sources.tables import load_table


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


def test_pq_codes_shape_and_range(spark, sf_dir):
    from etl_npl_pipeline_spark.operators.pq import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = _emb(spark, sf_dir)
    books = train_pq_codebooks(
        _train_sample(emb, "embedding", 7), 16, 16, seed=7
    )
    assert books.shape == (16, 16, 4)  # dim 64 / 16 subspaces
    codes = pq_encode(emb, books).collect()
    assert len(codes) == emb.count()
    for r in codes[:20]:
        assert len(r["codes"]) == 16
        assert all(0 <= c < 16 for c in r["codes"])


def test_pq_encoding_deterministic(spark, sf_dir):
    from etl_npl_pipeline_spark.operators.pq import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = _emb(spark, sf_dir)
    books = train_pq_codebooks(
        _train_sample(emb, "embedding", 7), 8, 16, seed=7
    )
    a = {r["neighbor_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()}
    b = {r["neighbor_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()}
    assert a == b


def test_adc_approximates_dot(spark, sf_dir):
    """ADC reconstruction error is bounded: the LUT-sum for a
    vector's own codes approximates its true self-dot (=1)."""
    from etl_npl_pipeline_spark.operators.pq import (
        pq_encode,
        train_pq_codebooks,
    )

    emb = _emb(spark, sf_dir)
    books = train_pq_codebooks(
        _train_sample(emb, "embedding", 7), 16, 16, seed=7
    )
    rows = emb.where(F.col("vec_id") < 5).collect()
    codes = {
        r["neighbor_id"]: np.array(r["codes"])
        for r in pq_encode(emb.where(F.col("vec_id") < 5), books).collect()
    }
    for r in rows:
        v = np.asarray(r["embedding"], dtype=np.float64)
        v /= np.linalg.norm(v)
        sub = v.reshape(16, 4)
        lut = np.einsum("sd,skd->sk", sub, books)
        adc = lut[np.arange(16), codes[r["vec_id"]]].sum()
        assert abs(adc - 1.0) < 0.35, f"ADC self-dot {adc} too far from 1"


def test_brute_force_topk_corpus_as_queries_grid_invariance(
    spark, sf_dir, monkeypatch
):
    """r10 (VERDICT r9 #5): the exact verifier is a pure chunk-block
    decomposition — the WHOLE CORPUS as the query batch through a
    forced multi-chunk grid must emit exactly the single-block
    result (block top-k uses the same (score desc, id asc) total
    order as the global window, and self matches are excluded
    INSIDE each block). No driver-side query materialization."""
    from etl_npl_pipeline_spark.operators import similarity as S
    from etl_npl_pipeline_spark.operators.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    single = [
        tuple(r)
        for r in brute_force_topk(emb, emb, k=5)
        .orderBy("query_id", "rank")
        .collect()
    ]
    monkeypatch.setattr(S, "QUERY_CHUNK_ROWS", 13)
    monkeypatch.setattr(S, "CORPUS_CHUNK_ROWS", 29)
    grid = [
        tuple(r)
        for r in brute_force_topk(emb, emb, k=5)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert single == grid and len(single) > 0
