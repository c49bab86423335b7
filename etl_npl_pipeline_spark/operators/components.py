"""Connected components over an edge DataFrame — duplicate-cluster
formation for dedup pipelines (pairs → clusters → keep-one).

Reference parity: the reference's dedup stage emits pairwise
matches; grouping them into clusters is the canonical follow-up
(union-find in a single-node engine). On Spark, union-find's
pointer-chasing doesn't distribute; the equivalent is iterative
hash-min label propagation:

    label(v) <- min(label(v), min over neighbors u of label(u))

repeated until fixpoint. Each round is one shuffle join (edges x
labels) + one shuffle agg (min per node), and converges in
O(component diameter) rounds — near-dup clusters are shallow (a
handful of hops), so 3-6 rounds in practice. ``localCheckpoint``
truncates the plan each round; without it the lineage doubles per
iteration and the driver OOMs planning round ~15 long before the
executors feel anything.

At 1000-executor scale the known failure mode is a giant skewed
component (one hub node in most edges). For that shape use
``connected_components_star`` below: the large-star/small-star
rewrite (Kiveris et al., "Connected Components in MapReduce and
Beyond") — every round is plain groupBy + join (no per-node
neighbor lists, so no unbounded buffer on a hub) and converges in
O(log n) rounds regardless of diameter or skew. Hash-min remains
the default for dedup clusters (bounded by LSH candidate caps
upstream, see dedup.jaccard_pairs's max_shingle_freq) where
components are shallow and the simpler loop wins on constants.
"""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from etl_npl_pipeline_spark.session import scoped_conf


def _loop_shuffle_pin(df: DataFrame, n_edges: int):
    """Scope ``spark.sql.shuffle.partitions`` to an iterative loop,
    sized to the EDGE TABLE instead of the session default.

    Every CC round runs 2-4 shuffles over tables that never exceed
    the edge count, and each shuffle partition carries fixed
    per-round cost (task scheduling, state open) — with the batch
    default (32) on a few-hundred-edge dedup graph that overhead IS
    the runtime (measured at sf0.1: 3.7 s -> 2.4 s with the pin).
    The same formula scales up: a trillion-edge graph sizes to
    ~1M-row partitions and simply keeps the session cap. AQE cannot
    do this for us here — localCheckpoint materializes each round
    through the static partition number before AQE re-plans."""
    spark = df.sparkSession
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    parts = max(4, min(cap, n_edges // 1_000_000 + 4))
    return scoped_conf(spark, {"spark.sql.shuffle.partitions": str(parts)})


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Label every node of the undirected graph with the minimum
    node id reachable from it: ``(node, component)``.

    ``edges`` is consumed as undirected; only nodes appearing in at
    least one edge are labeled (isolated nodes never enter).

    Termination is probabilistic: the fixpoint test compares
    consecutive xor-folded 64-bit label signatures (shuffle-free),
    so a ~2^-64 collision could end the loop one round early; a
    ``max_iter`` exhaustion without a stable signature emits a
    ``RuntimeWarning`` instead of failing (labels are then a valid
    under-approximation — every labeled pair IS connected).
    """
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # One materialization of the edge list reused every round. Lazy
    # checkpoint: the count() below is the materializing job, so the
    # truncation costs no job of its own.
    und = und.localCheckpoint(eager=False)
    with _loop_shuffle_pin(und, und.count()):
        labels, converged = _hashmin_loop(und, max_iter)
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components: no stable label signature after "
            f"max_iter={max_iter} rounds; labels may be unconverged",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def _hashmin_loop(
    und: DataFrame, max_iter: int
) -> tuple[DataFrame, bool]:
    # Warm start: label(v) = min(v, min neighbor) — one relaxation
    # round folded into the init aggregation (same single shuffle a
    # distinct-nodes init would cost).
    labels = (
        und.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("mn"))
        .select("node", F.least("node", F.col("mn")).alias("component"))
        .localCheckpoint(eager=False)
    )
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # neighbor labels flow along edges; min with own label
        msgs = und.join(
            labels, und.v == labels.node
        ).select(F.col("u").alias("node"), "component")
        relaxed = (
            labels.select("node", "component")
            .union(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump (path halving): component ids are themselves
        # node ids, so chase one hop — label <- label(label). Edge
        # relaxation alone moves the min ONE hop per round (O(diameter)
        # rounds: a 40-node chain would exceed any sane cap); with the
        # jump, convergence is O(log diameter).
        ptr = relaxed.select(
            F.col("node").alias("c_node"), F.col("component").alias("c_comp")
        )
        new_labels = (
            relaxed.join(ptr, relaxed.component == ptr.c_node, "left")
            .select(
                "node",
                F.coalesce("c_comp", "component").alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        # Fixpoint check: xor-folded label signature — a shuffle-free
        # scan, vs the old old-vs-new equi-join + count which cost a
        # full extra shuffle every round. The checkpoint above is
        # LAZY, so this collect is also the round's single
        # materializing job (eager checkpoint + separate check ran
        # two). Labels only ever decrease, so two consecutive
        # identical (count, hash) pairs mean converged (same trick
        # as the star loop's edge-set signature).
        labels = new_labels
        row = labels.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(node, component))").alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    return labels, converged


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical (hi, lo) orientation, self-loops dropped."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Skew-safe connected components: alternating large-star /
    small-star edge rewriting until the graph is a star forest.

    Same contract as :func:`connected_components` — ``(node,
    component)`` with component = min reachable id, only nodes with
    at least one edge labeled. Unlike hash-min, each round is
    groupBy(min) + equi-join: per-node state is ONE value, so a hub
    appearing in half of all edges costs a skewed join (AQE handles
    that) rather than an unbounded neighbor buffer, and rounds are
    O(log n) in any topology.

    - large-star: every neighbor v > u re-attaches to m(u) =
      min(Γ(u) ∪ {u})
    - small-star: every neighbor v ≤ u re-attaches to m⁻(u) =
      min of the ≤-neighborhood
    """
    cur = _canon(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    ).localCheckpoint(eager=False)
    with _loop_shuffle_pin(cur, cur.count()):
        cur, converged = _star_loop(cur, max_iter)
    if not converged:
        # Unlike hash-min (monotone toward correct labels), a star
        # rewrite stopped mid-flight is NOT a valid labeling — edges
        # may still point at non-roots. Surface it instead of handing
        # downstream silently-wrong component ids.
        warnings.warn(
            f"connected_components_star: no fixpoint after {max_iter} "
            "rounds; returned labels come from a partially rewritten "
            "edge set and may be wrong — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    # star forest: every edge is (node, root); roots label themselves
    return (
        cur.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(
            cur.select(F.col("v").alias("node"), F.col("v").alias("component"))
        )
        .distinct()
    )


def _star_loop(cur: DataFrame, max_iter: int):
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # --- large-star (operate on both orientations) ---
        und = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            und.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        ls = (
            und.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # Lazy: materialized by the small-star half's signature job —
        # the large-star result has exactly one consumer below, so an
        # eager checkpoint here would only add a round-trip.
        cur = _canon(ls).localCheckpoint(eager=False)
        # --- small-star (canonical orientation: v < u already) ---
        mins2 = cur.groupBy("u").agg(F.min("v").alias("m"))
        ss_nbrs = (
            cur.join(mins2, "u")
            .select(F.col("v").alias("n"), F.col("m"))
        )
        ss_self = mins2.select(F.col("u").alias("n"), F.col("m"))
        cur = _canon(
            ss_nbrs.union(ss_self).select(
                F.col("n").alias("u"), F.col("m").alias("v")
            )
        ).localCheckpoint(eager=False)
        # --- fixpoint: edge-set signature unchanged --- (the lazy
        # checkpoints above make this collect the round's ONE job)
        row = cur.agg(
            F.count(F.lit(1)).alias("n"),
            # xor-fold: order-independent, overflow-free under ANSI
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    return cur, converged
