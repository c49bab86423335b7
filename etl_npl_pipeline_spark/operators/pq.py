"""Product-quantization (PQ) training and encoding.

The memory-scale path for ANN: each corpus vector is compressed to
``m`` one-byte codes (one per dimension subspace, each quantized
against its own tiny k-means codebook), and search runs Asymmetric
Distance Computation (ADC) — the query stays full-precision, each
candidate's dot product is reconstructed as ``m`` table lookups on
its codes. At 64-dim float32 → 16 bytes/vector that is a 16×
memory/shuffle reduction; a 100 TB embedding corpus becomes ~6 TB of
codes that fit executor memory where raw vectors never would
(Jégou et al., "Product Quantization for Nearest Neighbor Search",
IEEE TPAMI 2011 — public method, clean-room implementation).

This module holds the seeded pieces the persisted index is built
from:
- Training: driver-side numpy k-means per subspace on the IVF
  toolkit's bounded sample (``ivf._train_sample``, reusing the IVF
  trainer); the codebook is a tiny
  (m, k, d/m) tensor that ships inside pandas_udf closures.
- Encoding: one map-only Arrow pass — argmin against each subspace
  codebook, vectorized over the batch.

The ADC search and its exact re-rank run in ``ann_index.pq_query``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from etl_npl_pipeline_spark.operators.ivf import _kmeans_lloyd, _unit_rows
from etl_npl_pipeline_spark.operators.similarity import _matrix


def _norm_rows(vs: pd.Series) -> np.ndarray:
    return _unit_rows(_matrix(vs))


def train_pq_codebooks(
    mat: np.ndarray,
    m_subspaces: int,
    k_codes: int,
    seed: int,
) -> np.ndarray:
    """Per-subspace k-means codebooks, trained on the bounded
    L2-normalized driver sample ``mat`` (``ivf._train_sample``).
    Returns (m, k, d/m)."""
    dim = mat.shape[1]
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m={m_subspaces}")
    d_sub = dim // m_subspaces
    books = np.empty((m_subspaces, k_codes, d_sub))
    for s in range(m_subspaces):
        sub = mat[:, s * d_sub : (s + 1) * d_sub]
        # distinct seed per subspace so k-means++ draws differ
        books[s] = _kmeans_lloyd(np.ascontiguousarray(sub), k_codes, seed + s)
    return books


def pq_encode(
    corpus: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Compress each vector to ``m`` small-int codes (argmin against
    each subspace codebook). Map-only, batch-vectorized."""
    m_sub, _, d_sub = books.shape

    @F.pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        mat = _norm_rows(vs)
        codes = np.empty((len(mat), m_sub), dtype=np.int32)
        for s in range(m_sub):
            sub = mat[:, s * d_sub : (s + 1) * d_sub]
            # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
            d = -2.0 * (sub @ books[s].T) + (books[s] ** 2).sum(axis=1)[None, :]
            codes[:, s] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return corpus.select(
        F.col(id_col).alias("neighbor_id"), encode(F.col(vec_col)).alias("codes")
    )

