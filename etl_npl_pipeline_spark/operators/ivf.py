"""IVF (inverted-file) coarse quantizer — the one quantizer toolkit
behind the persisted ANN index (``ann_index``), the PQ codebooks
(``pq``) and ``similarity.semantic_near_dups``:

- ``_unit_rows`` is the one numpy row normalizer, ``_train_sample``
  the one bounded, seeded driver sample every trainer fits on.
- Training is seeded numpy k-means on that sample — the model is a
  tiny centroid matrix that ships to executors inside a pandas_udf
  closure (``cell_assigner``).
- ``_sq_dists`` is the vectorized squared-L2 kernel that cell
  assignment and probe-list computation run per Arrow batch.

Search itself (probe lists, cell join, exact re-rank) lives in
``ann_index.ivf_query``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from etl_npl_pipeline_spark.operators.similarity import _matrix


TRAIN_SAMPLE_CAP = 100_000


def _sq_dists(m: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Pairwise squared L2 via the ||x||^2 - 2x.c + ||c||^2 expansion:
    two matmuls and O(n*k) memory — never the (n, k, dim) broadcast
    temporary (~3 GB at n=100k, k=64, dim=64)."""
    d = (
        (m * m).sum(axis=1)[:, None]
        - 2.0 * (m @ cents.T)
        + (cents * cents).sum(axis=1)[None, :]
    )
    # cancellation can leave tiny negatives; D² sampling needs >= 0
    return np.maximum(d, 0.0)


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """L2-normalize each row of a float64 matrix (a zero row stays
    zero). The result does not depend on whether the rows were
    stacked with ``vstack`` or ``concatenate`` + reshape."""
    return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)


def _train_sample(corpus: DataFrame, vec_col: str, seed: int) -> np.ndarray:
    """The bounded, seeded training sample every quantizer fits on:
    at most ~TRAIN_SAMPLE_CAP rows collected to the driver, each row
    L2-normalized. An empty corpus returns an empty array (size 0)."""
    train = corpus.select(F.col(vec_col).alias("v"))
    n = train.count()
    if n > TRAIN_SAMPLE_CAP:
        train = train.sample(fraction=TRAIN_SAMPLE_CAP / n, seed=seed)
    m = np.array([row["v"] for row in train.collect()], dtype=np.float64)
    return _unit_rows(m) if m.size else m


def cell_assigner(cents: np.ndarray):
    """pandas_udf mapping each vector to the cell of its nearest
    centroid in ``cents``. An empty quantizer (trained on a 0-row
    corpus) has no cells: every vector lands in the sentinel cell -1,
    and a rebuild is due once the base is non-trivial."""

    @F.pandas_udf("long")
    def assign_cell(vs: pd.Series) -> pd.Series:
        if len(vs) == 0 or cents.size == 0:
            return pd.Series([-1] * len(vs), dtype=np.int64)
        d = _sq_dists(_unit_rows(_matrix(vs)), cents)
        return pd.Series(d.argmin(axis=1).astype(np.int64))

    return assign_cell


def _kmeans_lloyd(m: np.ndarray, k: int, seed: int, iters: int = 10) -> np.ndarray:
    """Seeded k-means++ init + Lloyd iterations, pure numpy."""
    rng = np.random.default_rng(seed)
    # k-means++ seeding: spread initial centroids by D² sampling,
    # keeping a running min-distance vector (O(n*dim) per step)
    cents = m[rng.integers(len(m))][None, :]
    d2 = _sq_dists(m, cents).min(axis=1)
    for _ in range(k - 1):
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        nxt = m[rng.choice(len(m), p=probs)][None, :]
        cents = np.vstack([cents, nxt])
        d2 = np.minimum(d2, _sq_dists(m, nxt)[:, 0])
    for _ in range(iters):
        assign = _sq_dists(m, cents).argmin(axis=1)
        for c in range(k):
            members = m[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _centroids(m: np.ndarray, n_clusters: int, seed: int) -> np.ndarray:
    """Coarse-quantizer training: numpy k-means on the bounded driver
    sample ``m`` (``_train_sample``).

    Centroid quality saturates far below full-corpus size, so the
    sample cap (not the corpus) bounds the work: ≤100k × dim floats
    is a few MB on the driver — the standard IVF training shape at
    any corpus scale, and ~30 fewer Spark jobs than a pyspark.ml
    KMeans fit (which dominated this operator's wall-clock).

    Spherical: the sample is L2-normalized before k-means so the
    Euclidean cells align with the cosine metric the search uses
    (on unit vectors ||a-b||² = 2-2cosθ). Training on raw vectors
    splits cells by magnitude, which cosine ignores — that mismatch
    cost ~12% recall@5."""
    if m.size == 0:
        # empty corpus: there is nothing to train on and no dim to
        # derive — an empty (0, 0) centroid set; callers treat it as
        # "empty index" (r9 adversarial empty_tables find)
        return np.zeros((0, 0))
    return _kmeans_lloyd(m, n_clusters, seed)
