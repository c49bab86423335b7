"""Persisted ANN index lifecycle (operators/ann_index.py): build
once → query many, served rows pinned by digest and by exactness
against brute force, artifacts sized exactly by |corpus| x knobs."""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
import pytest

from etl_npl_pipeline_spark.operators import ann_index as AI
from etl_npl_pipeline_spark.operators import similarity as S
from etl_npl_pipeline_spark.plans import llmdata as L

# sha256 of repr([tuple(row), ...]) of each served query's collected
# rows on the default sf0.001 test data, recorded when the per-call
# retrain operators these queries used to be checked against were
# deleted. Any change to a seed, trainer, encoder or scoring fold
# shows up here as a digest change.
SERVED_DIGESTS = {
    "ann_ivf": "d4fbb56dfa7074e24db1c66654ed8ce3ed0764f6b60965b5a81cdeaba54e5934",
    "ann_pq": "d493bb7edb73cb760b24d317fd6ed1affbd860622495894fae599256d25ef481",
    "ann_lsh": "b05995c7848da4a9d6a96f8aa78710d5855b30dc4dba855e590fda8e234ae855",
}
# recall@5 floors of the served approximate queries against brute
# force (measured on sf0.001: IVF 0.90, PQ 1.00, LSH 0.94)
RECALL_FLOORS = {"ann_ivf": 0.5, "ann_pq": 0.6, "ann_lsh": 0.8}


def _queries(spark, sf_dir):
    emb = L._emb(spark, sf_dir)
    return emb, emb.where(F.col("vec_id") < L.ANN_N_QUERIES)


def test_build_materializes_all_artifacts(spark, sf_dir):
    idx = L._ann_index(spark, sf_dir)
    for name in AI.ARTIFACTS:
        assert os.path.isdir(os.path.join(idx, name)), name
    n = L._emb(spark, sf_dir).count()
    stats = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}
    assert stats == {
        "ivf_centroids": L.IVF_KNOBS["n_clusters"],
        "lsh_buckets": n * L.LSH_KNOBS["n_tables"],
        "pq_codebooks": L.PQ_KNOBS["m_subspaces"] * L.PQ_KNOBS["k_codes"],
        "pq_codes": n,
        "vectors": n,
    }


def test_build_is_cached_per_process(spark, sf_dir):
    a = L._ann_index(spark, sf_dir)
    b = L._ann_index(spark, sf_dir)
    assert a == b  # second call is a dict hit, no retrain


def _rows(df):
    return [tuple(r) for r in df.orderBy("query_id", "rank").collect()]


def test_served_trio_rows_match_pinned_digests(spark, sf_dir):
    """The three rows-only ANN queries have no oracle: pin every
    emitted row of ann_ivf / ann_pq / ann_lsh by digest."""
    got = {
        name: hashlib.sha256(
            repr(_rows(getattr(L, name)(spark, sf_dir))).encode()
        ).hexdigest()
        for name in SERVED_DIGESTS
    }
    assert got == SERVED_DIGESTS


@pytest.mark.parametrize("name", sorted(RECALL_FLOORS))
def test_served_recall_vs_brute_force(spark, sf_dir, name):
    """Each served approximate query keeps its recall@5 floor against
    exact brute force, and re-ranks exactly: every emitted pair that
    brute force also returns carries the same cos_sim."""
    emb, queries = _queries(spark, sf_dir)
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in S.brute_force_topk(queries, emb, k=L.ANN_K).collect()
    }
    rows = getattr(L, name)(spark, sf_dir).collect()
    approx = {(r.query_id, r.neighbor_id) for r in rows}
    recall = len(exact.keys() & approx) / len(exact)
    assert recall >= RECALL_FLOORS[name], f"{name} recall too low: {recall}"
    for r in rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(r.cos_sim - exact[key]) < 1e-9


def test_refresh_appends_once_and_serves_exact_results(spark, sf_dir):
    """r8 lifecycle: build on the 80% base slice, append the rest via
    refresh_ann_index (frozen quantizers). Proofs:
    - exactly-once: a repeated refresh with the same batch_key is a
      no-op (counts unchanged, version unchanged);
    - correctness: full-probe IVF over the REFRESHED index equals
      brute force over the UNION corpus — candidate routing cannot
      lose anything when every cell is probed, and scoring is exact,
      so the frozen-centroid staleness only ever affects pruned
      probes, never the scored math."""
    import pyspark.sql.functions as F2

    from etl_npl_pipeline_spark.operators.similarity import brute_force_topk

    emb = L._emb(spark, sf_dir)
    base = emb.where(F2.col("vec_id") % 5 != 4)
    batch = emb.where(F2.col("vec_id") % 5 == 4)
    key = os.path.realpath(sf_dir) + "#base-mod5"
    idx = AI.build_ann_index(
        spark, base, key,
        n_clusters=L.IVF_KNOBS["n_clusters"],
        pq_m=L.PQ_KNOBS["m_subspaces"],
        pq_k=L.PQ_KNOBS["k_codes"],
        lsh_planes=L.LSH_KNOBS["n_planes"],
        lsh_tables=L.LSH_KNOBS["n_tables"],
    )
    AI.refresh_ann_index(spark, idx, batch, batch_key="mod5==4")
    stats1 = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}
    AI.refresh_ann_index(spark, idx, batch, batch_key="mod5==4")
    stats2 = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}
    assert stats1 == stats2, "same-key refresh must be exactly-once"
    man = AI.read_manifest(idx)
    assert man["version"] == 2 and len(man["appends"]) == 1
    n = emb.count()
    assert stats1["vectors"] == n and stats1["pq_codes"] == n
    assert stats1["lsh_buckets"] == n * L.LSH_KNOBS["n_tables"]

    queries = emb.where(F2.col("vec_id") < L.ANN_N_QUERIES)
    got = [
        tuple(r)
        for r in AI.ivf_query(
            spark, idx, queries, k=L.ANN_K,
            n_probe=L.IVF_KNOBS["n_clusters"],
        ).orderBy("query_id", "rank").collect()
    ]
    want = [
        tuple(r)
        for r in brute_force_topk(queries, emb, k=L.ANN_K)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == want


def test_refresh_drift_is_bounded(spark, sf_dir):
    """Staleness bound for the frozen coarse quantizer: the appended
    batch's mean quantization error (squared distance to its assigned
    frozen centroid) must stay within 1.5x the base corpus's. On this
    corpus the batch is drawn from the same distribution, so a blowup
    would mean the refresh mis-assigned cells; a real deployment
    watches exactly this ratio to schedule full rebuilds."""
    import numpy as np
    import pyspark.sql.functions as F2

    from etl_npl_pipeline_spark.operators.ivf import _sq_dists
    from etl_npl_pipeline_spark.operators.pq import _norm_rows

    emb = L._emb(spark, sf_dir)
    base = emb.where(F2.col("vec_id") % 5 != 4)
    key = os.path.realpath(sf_dir) + "#base-mod5"
    idx = AI.build_ann_index(
        spark, base, key,
        n_clusters=L.IVF_KNOBS["n_clusters"],
        pq_m=L.PQ_KNOBS["m_subspaces"],
        pq_k=L.PQ_KNOBS["k_codes"],
        lsh_planes=L.LSH_KNOBS["n_planes"],
        lsh_tables=L.LSH_KNOBS["n_tables"],
    )
    cents = np.array(
        sorted(
            (
                r["centroid"]
                for r in spark.read.parquet(
                    os.path.join(idx, "ivf_centroids")
                ).collect()
            ),
        ),
        dtype=np.float64,
    )

    def mean_err(df):
        import pandas as pd

        vs = pd.Series([r["embedding"] for r in df.select("embedding").collect()])
        d = _sq_dists(_norm_rows(vs), cents)
        return float(d.min(axis=1).mean())

    err_base = mean_err(base)
    err_batch = mean_err(emb.where(F2.col("vec_id") % 5 == 4))
    assert err_batch <= 1.5 * err_base, (err_batch, err_base)


def test_lsh_query_knob_mismatch_raises(spark, sf_dir):
    import pyspark.sql.functions as F2
    import pytest

    emb = L._emb(spark, sf_dir)
    idx = L._ann_index(spark, sf_dir)
    queries = emb.where(F2.col("vec_id") < 3)
    with pytest.raises(ValueError, match="different knobs"):
        AI.lsh_query(
            spark, idx, queries,
            n_planes=L.LSH_KNOBS["n_planes"],
            n_tables=L.LSH_KNOBS["n_tables"] + 2,
        )


def test_empty_query_sets_return_empty_relation(spark, sf_dir):
    import pyspark.sql.functions as F2

    emb = L._emb(spark, sf_dir)
    idx = L._ann_index(spark, sf_dir)
    none = emb.where(F2.col("vec_id") < 0)
    for fn, kw in [
        (AI.ivf_query, {"n_probe": 2}),
        (AI.pq_query, {}),
        (AI.lsh_query, dict(n_planes=L.LSH_KNOBS["n_planes"],
                            n_tables=L.LSH_KNOBS["n_tables"])),
    ]:
        out = fn(spark, idx, none, **kw)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "query_id", "rank", "neighbor_id", "cos_sim",
        ]


def test_content_change_rebuilds(spark, sf_dir, tmp_path):
    """Same path + same knobs but regenerated bytes → a different
    index dir (the content fingerprint is part of the identity)."""
    emb = L._emb(spark, sf_dir).limit(50)
    p = str(tmp_path / "corpus")
    emb.write.mode("overwrite").parquet(p)
    a = AI.build_ann_index(spark, emb, p, n_clusters=3, lsh_tables=2)
    # regenerate with different content (and therefore size/mtime)
    emb.limit(40).write.mode("overwrite").parquet(p)
    b = AI.build_ann_index(spark, emb, p, n_clusters=3, lsh_tables=2)
    assert a != b


def test_knob_change_rebuilds_distinct_index(spark, sf_dir):
    emb = L._emb(spark, sf_dir)
    key = os.path.realpath(sf_dir)
    a = AI.build_ann_index(spark, emb, key, n_clusters=4, lsh_tables=2)
    b = AI.build_ann_index(spark, emb, key, n_clusters=6, lsh_tables=2)
    assert a != b
    stats_a = {
        r.artifact: r.n_rows for r in AI.index_stats(spark, a).collect()
    }
    assert stats_a["ivf_centroids"] == 4
    assert stats_a["lsh_buckets"] == emb.count() * 2


def test_refresh_crash_before_manifest_commit_is_invisible(
    spark, sf_dir, monkeypatch, tmp_path
):
    """r9 atomicity proof (VERDICT r8 #2): a refresh that dies after
    staging its segment dirs but BEFORE the manifest commit leaves
    the index exactly as it was — readers resolve artifacts through
    the manifest's segment list, so uncommitted dirs are invisible.
    The re-issued refresh then lands exactly once (batch_key), and a
    further same-key refresh is a no-op."""
    import pyspark.sql.functions as F2
    import pytest

    emb = L._emb(spark, sf_dir)
    base = emb.where(F2.col("vec_id") % 7 != 6)
    batch = emb.where(F2.col("vec_id") % 7 == 6)
    # per-run unique key: the warehouse persists across test runs,
    # and a previous run's committed append would turn the re-issued
    # refresh below into a batch_key no-op
    key = os.path.realpath(sf_dir) + f"#crash-inject-{tmp_path.name}"
    idx = AI.build_ann_index(
        spark, base, key, n_clusters=4, pq_m=8, pq_k=16,
        lsh_planes=4, lsh_tables=3,
    )
    stats0 = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}
    man0 = AI.read_manifest(idx)

    real_write = AI._write_manifest

    def boom(index_dir, manifest):
        raise RuntimeError("injected crash before manifest commit")

    monkeypatch.setattr(AI, "_write_manifest", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        AI.refresh_ann_index(spark, idx, batch, batch_key="crash-batch")
    monkeypatch.setattr(AI, "_write_manifest", real_write)

    # reader view unchanged: the staged-but-uncommitted segments are
    # invisible through every query/stat surface
    stats_after_crash = {
        r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()
    }
    assert stats_after_crash == stats0
    man = AI.read_manifest(idx)
    assert man["version"] == man0["version"] and man["appends"] == []

    # re-issued refresh lands exactly once
    AI.refresh_ann_index(spark, idx, batch, batch_key="crash-batch")
    stats1 = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}
    n = emb.count()
    assert stats1["vectors"] == n and stats1["pq_codes"] == n
    assert stats1["lsh_buckets"] == n * 3
    AI.refresh_ann_index(spark, idx, batch, batch_key="crash-batch")
    man2 = AI.read_manifest(idx)
    assert man2["version"] == man0["version"] + 1
    assert len(man2["appends"]) == 1

    import shutil

    shutil.rmtree(idx, ignore_errors=True)  # per-run key: don't litter


def _small_knobs(spark, base, key):
    return AI.build_ann_index(
        spark, base, key, n_clusters=4, pq_m=8, pq_k=16,
        lsh_planes=4, lsh_tables=3,
    )


def test_compact_folds_segments_and_preserves_results(spark, sf_dir, tmp_path):
    """r10 (VERDICT r9 #1): compaction folds the per-refresh segment
    dirs into one snapshot per artifact, results are bit-identical
    pre/post, the folded dirs are reclaimed, batch_key lineage
    survives (a replayed refresh stays a no-op), and a FURTHER
    refresh lands cleanly on the compacted base."""
    import pyspark.sql.functions as F2

    emb = L._emb(spark, sf_dir)
    base = emb.where(F2.col("vec_id") % 3 == 0)
    b1 = emb.where(F2.col("vec_id") % 3 == 1)
    b2 = emb.where(F2.col("vec_id") % 3 == 2)
    key = os.path.realpath(sf_dir) + f"#compact-{tmp_path.name}"
    idx = _small_knobs(spark, base, key)
    AI.refresh_ann_index(spark, idx, b1, batch_key="b1")
    AI.refresh_ann_index(spark, idx, b2, batch_key="b2")
    man = AI.read_manifest(idx)
    assert len(man["segments"]["vectors"]) == 3

    queries = emb.where(F2.col("vec_id") < 10)
    pre = [
        tuple(r)
        for r in AI.ivf_query(spark, idx, queries, k=5, n_probe=4)
        .orderBy("query_id", "rank").collect()
    ]
    stats_pre = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}

    AI.compact_ann_index(spark, idx)
    man = AI.read_manifest(idx)
    assert man["version"] == 4  # build 1 + two refreshes + compact
    for name in ("vectors", "pq_codes", "lsh_buckets"):
        assert len(man["segments"][name]) == 1
    # folded dirs reclaimed; appends lineage intact
    assert not os.path.isdir(os.path.join(idx, "vectors"))
    assert [a["batch_key"] for a in man["appends"]] == ["b1", "b2"]

    post = [
        tuple(r)
        for r in AI.ivf_query(spark, idx, queries, k=5, n_probe=4)
        .orderBy("query_id", "rank").collect()
    ]
    assert post == pre and len(post) > 0
    stats_post = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}
    assert stats_post == stats_pre

    # exactly-once survives compaction: replayed batch_key is a no-op
    AI.refresh_ann_index(spark, idx, b1, batch_key="b1")
    assert AI.read_manifest(idx)["version"] == 4

    # a FRESH refresh lands on the compacted base
    AI.refresh_ann_index(spark, idx, b1.limit(5), batch_key="b3")
    man = AI.read_manifest(idx)
    assert man["version"] == 5
    assert len(man["segments"]["vectors"]) == 2
    stats2 = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}
    assert stats2["vectors"] == stats_post["vectors"] + 5

    # re-compact is idempotent once lists are singletons
    AI.compact_ann_index(spark, idx)
    AI.compact_ann_index(spark, idx)
    assert AI.read_manifest(idx)["version"] == 6

    import shutil

    shutil.rmtree(idx, ignore_errors=True)


def test_compact_crash_before_manifest_commit_is_invisible(
    spark, sf_dir, monkeypatch, tmp_path
):
    """A compaction that dies after staging its snapshot dirs but
    BEFORE the manifest commit leaves the index exactly as it was
    (same single-commit-point discipline as refresh), and vacuum
    reclaims the orphaned staged dirs."""
    import pyspark.sql.functions as F2
    import pytest

    emb = L._emb(spark, sf_dir)
    base = emb.where(F2.col("vec_id") % 2 == 0)
    batch = emb.where(F2.col("vec_id") % 2 == 1)
    key = os.path.realpath(sf_dir) + f"#compact-crash-{tmp_path.name}"
    idx = _small_knobs(spark, base, key)
    AI.refresh_ann_index(spark, idx, batch, batch_key="odd")
    man0 = AI.read_manifest(idx)
    stats0 = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}

    real_write = AI._write_manifest

    def boom(index_dir, manifest):
        raise RuntimeError("injected crash before compact commit")

    monkeypatch.setattr(AI, "_write_manifest", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        AI.compact_ann_index(spark, idx)
    monkeypatch.setattr(AI, "_write_manifest", real_write)

    man = AI.read_manifest(idx)
    assert man == man0  # reader view unchanged
    stats = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}
    assert stats == stats0

    # the crashed attempt's staged snapshot dirs are orphans; vacuum
    # removes them and nothing the manifest references
    removed = AI.vacuum_ann_index(idx)
    assert any(r.startswith("vectors_c") for r in removed)
    stats = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}
    assert stats == stats0

    # the re-issued compaction lands
    AI.compact_ann_index(spark, idx)
    man = AI.read_manifest(idx)
    assert man["version"] == man0["version"] + 1
    assert len(man["segments"]["vectors"]) == 1
    stats = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}
    assert stats == stats0

    import shutil

    shutil.rmtree(idx, ignore_errors=True)


def test_empty_batch_refresh_is_lineage_only(spark, sf_dir, tmp_path):
    """r10 (r9 ADVICE): a zero-row refresh commits its batch_key
    (exactly-once) but adds NO segment dirs — the streamed drain
    path would otherwise grow every reader's union by one scan per
    empty micro-batch."""
    import pyspark.sql.functions as F2

    emb = L._emb(spark, sf_dir)
    key = os.path.realpath(sf_dir) + f"#empty-batch-{tmp_path.name}"
    idx = _small_knobs(spark, emb.limit(40), key)
    AI.refresh_ann_index(
        spark, idx, emb.where(F2.col("vec_id") < 0), batch_key="empty-1"
    )
    man = AI.read_manifest(idx)
    assert man["version"] == 2
    assert man["appends"] == [
        {"version": 2, "rows": 0, "batch_key": "empty-1"}
    ]
    for name in ("vectors", "pq_codes", "lsh_buckets"):
        assert man["segments"][name] == [name]

    import shutil

    shutil.rmtree(idx, ignore_errors=True)


def test_refresh_onto_empty_base_parks_in_sentinel_cell(spark, sf_dir, tmp_path):
    """A 0-row build trains no quantizers. A refresh onto it still
    appends every vector: the shared cell assigner parks each one in
    the sentinel cell -1, every PQ code array is empty (zero
    subspaces), the LSH postings are complete, and IVF search has no
    cell to probe."""
    import shutil

    emb = L._emb(spark, sf_dir)
    key = os.path.realpath(sf_dir) + f"#empty-base-{tmp_path.name}"
    idx = AI.build_ann_index(
        spark, emb.where(F.col("vec_id") < 0), key, n_clusters=3, lsh_tables=2
    )
    AI.refresh_ann_index(
        spark, idx, emb.where(F.col("vec_id") < 7), batch_key="seven"
    )
    stats = {r.artifact: r.n_rows for r in AI.index_stats(spark, idx).collect()}
    assert stats == {
        "ivf_centroids": 0,
        "lsh_buckets": 14,
        "pq_codebooks": 0,
        "pq_codes": 7,
        "vectors": 7,
    }
    assert {r.cell for r in AI._vectors(spark, idx).collect()} == {-1}
    codes = AI._read_artifact(spark, idx, "pq_codes").collect()
    assert all(len(r.codes) == 0 for r in codes)
    queries = emb.where(F.col("vec_id") < 3)
    assert AI.ivf_query(spark, idx, queries).count() == 0
    man = AI.read_manifest(idx)
    assert man["version"] == 2
    assert man["appends"] == [{"version": 2, "rows": 7, "batch_key": "seven"}]

    shutil.rmtree(idx, ignore_errors=True)


def test_pq_query_corpus_as_queries_grid_invariance(
    spark, sf_dir, monkeypatch
):
    """The r9 distributed ADC is a pure block decomposition: running
    the WHOLE CORPUS as the query batch through a forced multi-chunk
    (query x code) grid must emit exactly the single-block result.
    Works because block top-k' selection uses the same deterministic
    (adc desc, neighbor_id asc) order as the global window, so every
    global top-k' row survives its block — the grid only changes
    which executor computes it."""
    from etl_npl_pipeline_spark.operators.ann_index import pq_query

    emb = L._emb(spark, sf_dir)
    idx = L._ann_index(spark, sf_dir)
    single = pq_query(
        spark, idx, emb, k=L.ANN_K,
        rerank_factor=L.PQ_KNOBS["rerank_factor"],
    ).orderBy("query_id", "rank")
    monkeypatch.setattr(AI, "PQ_QUERY_CHUNK_ROWS", 60)
    monkeypatch.setattr(AI, "PQ_CODE_CHUNK_ROWS", 70)
    grid = pq_query(
        spark, idx, emb, k=L.ANN_K,
        rerank_factor=L.PQ_KNOBS["rerank_factor"],
    ).orderBy("query_id", "rank")
    got = [tuple(r) for r in grid.collect()]
    want = [tuple(r) for r in single.collect()]
    assert got == want and len(got) > 0


def _lock_contender(index_dir: str, counter_path: str, rounds: int) -> None:
    # module-level so multiprocessing can pickle it (spawn-safe)
    import time as _t

    from etl_npl_pipeline_spark.operators.ann_index import _commit_lock

    for _ in range(rounds):
        with _commit_lock(index_dir):
            with open(counter_path) as fh:
                n = int(fh.read())
            _t.sleep(0.002)  # widen the lost-update window
            with open(counter_path, "w") as fh:
                fh.write(str(n + 1))


def test_commit_lock_stale_steal_is_single_winner(tmp_path):
    """Two waiters that both observe a dead holder pid must not BOTH
    clear the lock path (the r10 unlink-based steal let the second
    unlink delete the first thief's fresh lock, yielding two
    concurrent manifest writers). The rename-claim steal admits one
    winner; a read-modify-write counter under contention loses no
    updates."""
    import multiprocessing as mp
    import subprocess

    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    counter = str(tmp_path / "counter")
    with open(counter, "w") as fh:
        fh.write("0")
    # plant a stale lock owned by a genuinely dead pid
    dead = subprocess.Popen(["true"])
    dead.wait()
    with open(os.path.join(idx, "_COMMIT.lock"), "w") as fh:
        fh.write(str(dead.pid))

    procs = 6
    rounds = 20
    ctx = mp.get_context("spawn")
    ps = [
        ctx.Process(target=_lock_contender, args=(idx, counter, rounds))
        for _ in range(procs)
    ]
    for p in ps:
        p.start()
    for p in ps:
        p.join(timeout=120)
        assert p.exitcode == 0
    with open(counter) as fh:
        assert int(fh.read()) == procs * rounds
    assert not os.path.exists(os.path.join(idx, "_COMMIT.lock"))


def test_commit_lock_eperm_holder_is_treated_alive(tmp_path, monkeypatch):
    """os.kill raising EPERM means the holder EXISTS under another
    uid — the r10 code treated any OSError as dead and stole a live
    lock. Now PermissionError must park the waiter, not steal."""
    import threading

    from etl_npl_pipeline_spark.operators import ann_index as ai

    idx = str(tmp_path / "idx")
    os.makedirs(idx)
    lock_path = os.path.join(idx, "_COMMIT.lock")
    with open(lock_path, "w") as fh:
        fh.write("12345")

    real_kill = os.kill

    def fake_kill(pid, sig):
        if pid == 12345:
            raise PermissionError("operation not permitted")
        return real_kill(pid, sig)

    monkeypatch.setattr(os, "kill", fake_kill)

    acquired = threading.Event()

    def try_acquire():
        with ai._commit_lock(idx):
            acquired.set()

    t = threading.Thread(target=try_acquire, daemon=True)
    t.start()
    t.join(timeout=1.0)
    # still parked: the EPERM holder was NOT stolen
    assert not acquired.is_set()
    assert os.path.exists(lock_path)
    with open(lock_path) as fh:
        assert fh.read().strip() == "12345"
    # release by the "other user": waiter proceeds promptly
    os.unlink(lock_path)
    t.join(timeout=5.0)
    assert acquired.is_set()


def test_filtered_query_is_prefilter_not_postfilter(spark, sf_dir):
    """L77: allowed_ids must semi-join the postings BEFORE ranking.
    Pins (a) every returned neighbor satisfies the predicate,
    (b) the result equals brute-force kNN over the filtered corpus,
    (c) on this data the distinction is REAL: some query's
    post-filtered unfiltered top-k differs from the pre-filtered
    top-k (otherwise this test would pass vacuously)."""
    import pyspark.sql.functions as F

    from etl_npl_pipeline_spark.operators import similarity as S
    from etl_npl_pipeline_spark.operators.ann_index import ivf_query
    from etl_npl_pipeline_spark.plans import llmdata

    idx = llmdata._ann_index(spark, sf_dir)
    emb = llmdata._emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < llmdata.ANN_N_QUERIES)
    allowed_df = emb.where(
        F.col("label") <= llmdata.ANN_FILTER_MAX_LABEL
    )
    allowed_ids = {r.vec_id for r in allowed_df.select("vec_id").collect()}

    served = ivf_query(
        spark, idx, queries, k=llmdata.ANN_K,
        n_probe=llmdata.IVF_KNOBS["n_clusters"],
        allowed_ids=allowed_df.select(
            F.col("vec_id").alias("neighbor_id")
        ),
    )
    got = {
        (r.query_id, r.rank): r.neighbor_id for r in served.collect()
    }
    assert got and all(n in allowed_ids for n in got.values())

    exact = S.brute_force_topk(queries, allowed_df, k=llmdata.ANN_K)
    want = {
        (r.query_id, r.rank): r.neighbor_id for r in exact.collect()
    }
    # self-exclusion: a query outside the filter never appears; one
    # inside it is excluded by ivf_query's query_id != neighbor_id
    # and by brute_force's identical rule
    assert got == want

    unfiltered = ivf_query(
        spark, idx, queries, k=llmdata.ANN_K,
        n_probe=llmdata.IVF_KNOBS["n_clusters"],
    )
    # full probe scores every cell: exact kNN over the whole corpus
    assert _rows(unfiltered) == _rows(
        S.brute_force_topk(queries, emb, k=llmdata.ANN_K)
    )
    post = {}
    for r in unfiltered.collect():
        if r.neighbor_id in allowed_ids:
            post.setdefault(r.query_id, []).append(r.neighbor_id)
    pre = {}
    for (q, _), n in sorted(got.items()):
        pre.setdefault(q, []).append(n)
    assert any(post.get(q, []) != pre[q] for q in pre), (
        "post-filter == pre-filter everywhere; fixture too easy"
    )


def test_large_batch_cogroup_path_equals_rowwise_path(spark, sf_dir, monkeypatch):
    """The LARGE_QUERY_BATCH cogroup path must return BIT-IDENTICAL
    rows to the row-wise `dot` path — same normalization fold,
    same ascending-dim score accumulation, same (score desc, id asc)
    order. Run both on the same index by toggling the threshold."""
    import pyspark.sql.functions as F

    from etl_npl_pipeline_spark.operators import ann_index as ai
    from etl_npl_pipeline_spark.plans import llmdata

    idx = llmdata._ann_index(spark, sf_dir)
    emb = llmdata._emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 40)

    monkeypatch.setattr(ai, "LARGE_QUERY_BATCH", 10**9)
    small = [
        tuple(r)
        for r in ai.ivf_query(spark, idx, queries, k=5, n_probe=3)
        .orderBy("query_id", "rank")
        .collect()
    ]
    monkeypatch.setattr(ai, "LARGE_QUERY_BATCH", 0)
    large = [
        tuple(r)
        for r in ai.ivf_query(spark, idx, queries, k=5, n_probe=3)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert small and small == large


def test_filtered_pq_is_prefilter_not_postfilter(spark, sf_dir):
    """L77b (r13): the PQ path's allowed_ids must semi-join the CODE
    TABLE before ADC. With rerank_factor sized so k' >= |allowed|,
    the served result must EQUAL brute-force kNN over the filtered
    corpus (the exactness construction ann_filtered_pq's oracle
    relies on); and the unfiltered top-k post-filtered must differ
    somewhere (pre-filter is observably not post-filter)."""
    import pyspark.sql.functions as F

    from etl_npl_pipeline_spark.operators import similarity as S
    from etl_npl_pipeline_spark.operators.ann_index import pq_query
    from etl_npl_pipeline_spark.plans import llmdata

    idx = llmdata._ann_index(spark, sf_dir)
    emb = llmdata._emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < llmdata.ANN_N_QUERIES)
    allowed_df = emb.where(F.col("label") <= llmdata.ANN_FILTER_MAX_LABEL)
    allowed_ids = {r.vec_id for r in allowed_df.select("vec_id").collect()}
    rf = max(1, -(-len(allowed_ids) // llmdata.ANN_K))

    served = pq_query(
        spark, idx, queries, k=llmdata.ANN_K, rerank_factor=rf,
        allowed_ids=allowed_df.select(F.col("vec_id").alias("neighbor_id")),
    )
    got = {(r.query_id, r.rank): r.neighbor_id for r in served.collect()}
    assert got and all(n in allowed_ids for n in got.values())

    exact = S.brute_force_topk(queries, allowed_df, k=llmdata.ANN_K)
    want = {(r.query_id, r.rank): r.neighbor_id for r in exact.collect()}
    assert got == want

    # unfiltered with k' >= |corpus|: every vector survives the ADC
    # cut, so the exact re-rank is exact kNN over the whole corpus
    full = pq_query(
        spark, idx, queries, k=llmdata.ANN_K,
        rerank_factor=-(-emb.count() // llmdata.ANN_K),
    )
    assert _rows(full) == _rows(
        S.brute_force_topk(queries, emb, k=llmdata.ANN_K)
    )

    unfiltered = pq_query(
        spark, idx, queries, k=llmdata.ANN_K, rerank_factor=rf
    )
    post = {}
    for r in unfiltered.collect():
        if r.neighbor_id in allowed_ids:
            post.setdefault(r.query_id, []).append(r.neighbor_id)
    pre = {}
    for (q, _), n in sorted(got.items()):
        pre.setdefault(q, []).append(n)
    assert any(post.get(q, []) != pre[q] for q in pre), (
        "post-filter == pre-filter everywhere; fixture too easy"
    )


def test_filtered_lsh_prefilters_postings(spark, sf_dir):
    """L77b (r13): the LSH path's allowed_ids must semi-join the
    bucket POSTINGS before the probe join. LSH is approximate (a
    filtered pair may share no bucket), so the pins are (a) every
    returned neighbor satisfies the predicate, (b) each query that
    returns rows ranks them by exact cos over allowed candidates
    only (rank 1 scores >= rank 2 scores), and (c) the filtered
    result differs from post-filtering the unfiltered top-k for at
    least one query."""
    import pyspark.sql.functions as F

    from etl_npl_pipeline_spark.operators.ann_index import lsh_query
    from etl_npl_pipeline_spark.plans import llmdata

    idx = llmdata._ann_index(spark, sf_dir)
    emb = llmdata._emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < llmdata.ANN_N_QUERIES)
    allowed_df = emb.where(F.col("label") <= llmdata.ANN_FILTER_MAX_LABEL)
    allowed_ids = {r.vec_id for r in allowed_df.select("vec_id").collect()}

    kn = llmdata.LSH_KNOBS
    served = lsh_query(
        spark, idx, queries, k=llmdata.ANN_K,
        n_planes=kn["n_planes"], n_tables=kn["n_tables"],
        allowed_ids=allowed_df.select(F.col("vec_id").alias("neighbor_id")),
    ).collect()
    assert served and all(r.neighbor_id in allowed_ids for r in served)
    by_q = {}
    for r in served:
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos_sim))
    for q, rows in by_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True), (q, rows)

    unfiltered = lsh_query(
        spark, idx, queries, k=llmdata.ANN_K,
        n_planes=kn["n_planes"], n_tables=kn["n_tables"],
    ).collect()
    post = {}
    for r in unfiltered:
        if r.neighbor_id in allowed_ids:
            post.setdefault(r.query_id, []).append(r.neighbor_id)
    pre = {}
    for r in sorted(served, key=lambda r: (r.query_id, r.rank)):
        pre.setdefault(r.query_id, []).append(r.neighbor_id)
    assert any(post.get(q, []) != pre[q] for q in pre), (
        "post-filter == pre-filter everywhere; fixture too easy"
    )
