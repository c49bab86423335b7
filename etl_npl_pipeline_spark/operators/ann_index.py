"""Persisted ANN index lifecycle: build once, query many — the one
search path for every approximate ANN family (IVF, PQ, LSH).

At 100 TB you cannot collect a training sample, re-run k-means, and
re-encode the corpus for every query batch, so each family splits
into

- ``build_ann_index``: train the coarse quantizer (IVF k-means
  centroids), the PQ per-subspace codebooks, and materialize the
  three derived corpus artifacts — cell-assigned normalized vectors,
  PQ codes, LSH bucket postings — as parquet under the Spark
  warehouse. Training cost is paid ONCE per (corpus, knobs).
- ``ivf_query`` / ``pq_query`` / ``lsh_query``: load the persisted
  artifacts and search. No sampling, no k-means, no corpus
  re-encode — the only per-query work is the candidate join and the
  exact re-rank, which is the part that should scale with |Q|.

Determinism contract: build and refresh run the same seeded
trainers (`ivf._centroids`, `pq.train_pq_codebooks`, both fitting on
one `ivf._train_sample`, normalized by `ivf._unit_rows`) and write
through the one encoder `_write_corpus_artifacts`: `ivf.cell_assigner`
for the cell, `pq.pq_encode` for the codes, `_lsh_postings` (over
`similarity._lsh_table_signatures`) for the buckets, and the Catalyst
`l2_normalize` expression for the vectors — parquet round-trips
doubles exactly. Queries load the frozen models through
`_load_centroids` / `_load_codebooks`, pre-filter through `_allowed`
and re-rank PQ and LSH candidates through `_exact_rerank`. Every
exact score comes from the ascending-dim fold (the JVM-side
`similarity.dot` row-wise, the shared `similarity` block kernel in
the cogroup paths), so
full-probe IVF and PQ with k' >= |corpus| equal `brute_force_topk`
bit for bit, and the sf0.001 rows of ann_ivf / ann_pq / ann_lsh are
pinned by digest in tests/test_ann_index.py.

Scale notes:
- The vectors artifact is written ``partitionBy("cell")`` so an IVF
  probe plan can prune cells at the scan and the per-cell files stay
  executor-sized at any corpus scale.
- The in-process cache (`_ANN_BUILT`) is keyed by
  (corpus realpath, knobs, seed): bench steady-state and driver
  retries measure the QUERY, not the build — the same split
  join_bucketed uses for its bucketed tables.
- Only tiny model artifacts (centroids: n_clusters x dim; codebooks:
  m x k x d/m) ever collect to the driver at query time; corpus-
  sized artifacts stay distributed. They and the code count are
  derived once per version of their segments (`_frozen`), so a
  repeat query against an unchanged index plans without a job.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import shutil
import time
from collections.abc import Callable
from functools import reduce

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from etl_npl_pipeline_spark.operators.ivf import (
    _centroids,
    _sq_dists,
    _train_sample,
    _unit_rows,
    cell_assigner,
)
from etl_npl_pipeline_spark.operators.pq import (
    _norm_rows,
    pq_encode,
    train_pq_codebooks,
)
from etl_npl_pipeline_spark.operators.similarity import (
    _block_frame,
    _block_topk,
    _chunk_grid,
    _emit_topk,
    _empty_result,
    _lsh_table_signatures,
    _matrix,
    _norm_dim_ordered,
    _topk,
    dot,
    l2_normalize,
)
from etl_npl_pipeline_spark.sources.tables import fingerprint, read_parquet

# Index dirs already built by THIS process, keyed by the knob+corpus
# hash. Repeat invocations (bench steady-state, the driver's oracle
# sweep) reuse the artifacts and measure search alone.
_ANN_BUILT: dict[str, str] = {}

# Values derived from one artifact's committed rows, per process (see
# _frozen). Only numpy arrays and ints are kept, never DataFrames.
_FROZEN: dict[tuple, object] = {}

ARTIFACTS = ("ivf_centroids", "lsh_buckets", "pq_codebooks", "pq_codes", "vectors")


def _warehouse_dir(spark: SparkSession) -> str:
    return spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")


MANIFEST = "_MANIFEST.json"

# ivf_query batches above this size take the cell-keyed cogroup
# instead of the row-wise join (see ivf_query's docstring — the sf10
# spill find). 1,000 cleanly separates the two real regimes — tens
# of queries (serving: broadcast + cell partition pruning wins) vs
# corpus-as-queries sweeps (thousands+: candidate pairs must never
# exist as rows) — and keeps each query SHAPE on one strategy at
# every measured sf, so decade byte ratios compare like with like.
LARGE_QUERY_BATCH = 1_000

# pq_query's ADC chunk grid: queries per query chunk, codes per code
# chunk. The decomposition is exact for any grid, so these only set
# block sizes.
PQ_QUERY_CHUNK_ROWS = 10_000
PQ_CODE_CHUNK_ROWS = 200_000


def _content_fingerprint(corpus_key: str) -> str:
    """Content identity of the corpus behind ``corpus_key``
    (`tables.fingerprint` of the path before any ``#``), so the cache
    can never serve an index built on stale bytes (r7 ADVICE).
    Non-path keys (synthetic test corpora) fingerprint as "nokey" —
    the caller owns identity there."""
    path = corpus_key.split("#", 1)[0]
    if not os.path.exists(path):
        return "nokey"
    return fingerprint(path)


def read_manifest(index_dir: str) -> dict:
    with open(os.path.join(index_dir, MANIFEST)) as fh:
        return json.load(fh)


def _artifact_paths(index_dir: str, name: str) -> list[str]:
    """Resolve an artifact to its manifest-listed segment dirs.

    The base build writes one dir per artifact; each committed
    refresh ADDS a ``<name>_v<N>`` segment dir. Readers consume the
    union of listed segments, so a staged-but-uncommitted refresh
    (crash before the manifest write) is invisible by construction —
    the manifest is the single commit point."""
    segs = read_manifest(index_dir)["segments"][name]
    return [os.path.join(index_dir, s) for s in segs]


def _read_artifact(
    spark: SparkSession, index_dir: str, name: str
) -> DataFrame:
    # one read per segment, unioned: multi-root partition discovery
    # rejects mixed roots (CONFLICTING_DIRECTORY_STRUCTURES), and a
    # per-segment read keeps cell-partition pruning working inside
    # each union branch. Later segments cast to the base segment's
    # schema by name — a partition-discovered cell (int) and an
    # explicit empty-segment cell (long) must still union.
    dfs = [read_parquet(spark, p) for p in _artifact_paths(index_dir, name)]
    out = dfs[0]
    for d in dfs[1:]:
        d = d.select(
            *[F.col(f.name).cast(f.dataType) for f in out.schema.fields]
        )
        out = out.unionByName(d)
    return out


# explicit artifact schemas, used when a build/refresh has ZERO rows
# to write: a partitioned write of an empty frame leaves a dir with
# no parquet files (unreadable), so empty artifacts are written
# schema-first and unpartitioned (r9 adversarial empty_tables find)
_ARTIFACT_SCHEMAS = {
    "vectors": "neighbor_id long, cv array<double>, cell long",
    "ivf_centroids": "cell long, centroid array<double>",
    "pq_codebooks": "subspace int, code int, centroid array<double>",
    "pq_codes": "neighbor_id long, codes array<int>",
    "lsh_buckets": "neighbor_id long, t int, sig long",
}


def _write_small_artifact(
    spark: SparkSession, path: str, name: str, rows: list | None = None
) -> None:
    """Write a driver-side artifact (a model, or any empty artifact)
    as one schema-first parquet file."""
    spark.createDataFrame(rows or [], _ARTIFACT_SCHEMAS[name]).coalesce(
        1
    ).write.mode("overwrite").parquet(path)


def _write_artifact(df: DataFrame, path: str, name: str) -> None:
    """Write a corpus-sized artifact; ``vectors`` is partitioned by
    cell so an IVF probe prunes cells at the scan."""
    w = df.write.mode("overwrite")
    (w.partitionBy("cell") if name == "vectors" else w).parquet(path)


def _drop_dirs(index_dir: str, names) -> None:
    """Best-effort removal of index subdirs: discarded staged
    segments, folded segments, orphans."""
    for name in names:
        shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)


def _lsh_postings(
    df: DataFrame, id_col: str, vec_col: str, n_planes: int, n_tables: int,
    id_alias: str,
) -> DataFrame:
    """One (id, t, sig) row per LSH table per vector: the bucket
    postings of the corpus side, and the probe keys of the query
    side. The planes are seed-derived (stateless)."""
    sig_udf = _lsh_table_signatures(n_planes, n_tables)
    return df.select(
        F.col(id_col).alias(id_alias), sig_udf(F.col(vec_col)).alias("sigs")
    ).select(id_alias, F.posexplode("sigs").alias("t", "sig"))


def _write_corpus_artifacts(
    batch: DataFrame,
    cents: np.ndarray,
    books: np.ndarray,
    knobs: dict,
    out_dir: str,
    suffix: str,
    id_col: str,
    vec_col: str,
) -> None:
    """Encode ``batch`` against the frozen quantizers and write the
    three corpus-sized artifacts as ``<name><suffix>`` dirs: the
    cell-assigned normalized vectors (``partitionBy("cell")``), the
    PQ codes and the LSH bucket postings. The build writes the base
    dirs (empty suffix); a refresh stages attempt-unique segments.
    Overwrite (not append) makes a re-issued refresh reclaim any
    partial segment a crashed attempt left behind."""
    frames = {
        "vectors": batch.select(
            F.col(id_col).alias("neighbor_id"),
            l2_normalize(F.col(vec_col)).alias("cv"),
            cell_assigner(cents)(F.col(vec_col)).alias("cell"),
        ),
        "pq_codes": pq_encode(batch, books, id_col, vec_col),
        "lsh_buckets": _lsh_postings(
            batch, id_col, vec_col, knobs["lsh_planes"], knobs["lsh_tables"],
            "neighbor_id",
        ),
    }
    for name, df in frames.items():
        _write_artifact(df, os.path.join(out_dir, name + suffix), name)


def _frozen(
    spark: SparkSession,
    index_dir: str,
    name: str,
    derive: Callable[[DataFrame], object],
) -> object:
    """``derive(df)`` over artifact ``name``'s committed rows, run
    once per process per version of its segments. Each artifact has
    one derived value, and the key is its manifest-listed segment
    paths with their `tables.fingerprint`s: a refresh or compaction
    (another segment list) or a rewrite in place (other files) misses
    and derives again. Arrays come back read-only, since every
    caller shares them."""
    key = tuple((p, fingerprint(p)) for p in _artifact_paths(index_dir, name))
    if key not in _FROZEN:
        value = derive(_read_artifact(spark, index_dir, name))
        if isinstance(value, np.ndarray):
            value.flags.writeable = False
        _FROZEN[key] = value
    return _FROZEN[key]


def _load_centroids(spark: SparkSession, index_dir: str) -> np.ndarray:
    """The frozen IVF centroid matrix, row = cell (size 0 for an
    empty index)."""

    def derive(df: DataFrame) -> np.ndarray:
        crows = sorted(df.collect(), key=lambda r: r["cell"])
        return np.array([r["centroid"] for r in crows], dtype=np.float64)

    return _frozen(spark, index_dir, "ivf_centroids", derive)


def _load_codebooks(spark: SparkSession, index_dir: str) -> np.ndarray:
    """The frozen PQ codebook tensor (m, k, d/m); (0, 0, 0) for an
    empty index, whose zero subspaces encode to empty code arrays."""

    def derive(df: DataFrame) -> np.ndarray:
        brows = df.collect()
        if not brows:
            return np.zeros((0, 0, 0))
        m_sub = 1 + max(r["subspace"] for r in brows)
        k_codes = 1 + max(r["code"] for r in brows)
        books = np.empty((m_sub, k_codes, len(brows[0]["centroid"])))
        for r in brows:
            books[r["subspace"], r["code"]] = r["centroid"]
        return books

    return _frozen(spark, index_dir, "pq_codebooks", derive)


def _write_manifest(index_dir: str, manifest: dict) -> None:
    tmp = os.path.join(index_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(index_dir, MANIFEST))


# per-process attempt counter: staged segment dirs get a
# (pid, seq)-unique name so two concurrent refresh/compact attempts
# can never clobber each other's staged files (r9 ADVICE: both
# attempts used the bare _v{N+1} name and the loser's segments were
# overwritten before its manifest commit raced)
_ATTEMPT_SEQ = itertools.count()

# artifacts that grow a segment per committed refresh; the model
# artifacts (ivf_centroids, pq_codebooks) are frozen at build time
_SEGMENTED = ("vectors", "pq_codes", "lsh_buckets")


class _commit_lock:
    """O_EXCL lock file guarding the manifest read-modify-write.

    Staging (the expensive distributed writes) happens OUTSIDE the
    lock under attempt-unique dir names; only the commit — re-read
    manifest, splice in the staged segment names, os.replace — runs
    inside, so the critical section is a few file ops. The holder's
    pid is written into the lock; a lock whose pid is dead is stolen
    (crash between stage and commit must not wedge the index)."""

    def __init__(self, index_dir: str) -> None:
        self.path = os.path.join(index_dir, "_COMMIT.lock")

    def __enter__(self) -> "_commit_lock":
        while True:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, str(os.getpid()).encode())
                os.close(fd)
                return self
            except FileExistsError:
                try:
                    with open(self.path) as fh:
                        pid = int(fh.read().strip() or "0")
                except (OSError, ValueError):
                    pid = 0
                alive = False
                if pid:
                    try:
                        os.kill(pid, 0)
                        alive = True
                    except PermissionError:
                        # EPERM: the holder exists but belongs to
                        # another user — very much alive
                        alive = True
                    except OSError:
                        alive = False
                if alive or not pid:
                    time.sleep(0.05)
                else:
                    # Stale lock from a crashed holder. Steal it
                    # ATOMICALLY: rename the stale file to a
                    # thief-unique name — rename(2) succeeds for
                    # exactly ONE thief per inode-path pair, so two
                    # waiters that both observed the dead pid cannot
                    # both clear the path (the old unlink-based steal
                    # let the second unlink delete the first thief's
                    # freshly created lock → two concurrent manifest
                    # writers). The loser's rename raises ENOENT and
                    # it simply re-loops against the winner's lock.
                    claim = f"{self.path}.stale.{pid}.{os.getpid()}"
                    try:
                        os.rename(self.path, claim)
                    except OSError:
                        continue
                    # re-check the claimed file really is the lock we
                    # judged dead (not a newer holder that reused the
                    # path between our read and the rename)
                    try:
                        with open(claim) as fh:
                            claimed_pid = int(fh.read().strip() or "0")
                    except (OSError, ValueError):
                        claimed_pid = 0
                    if claimed_pid != pid:
                        # we yanked a lock that changed hands between
                        # our read and the rename — it may be a LIVE
                        # holder's. Restore it with a NO-CLOBBER
                        # link(2) (fails EEXIST instead of
                        # overwriting a lock someone created in the
                        # gap), then back off and re-contend.
                        try:
                            os.link(claim, self.path)
                        except OSError:
                            pass
                        os.unlink(claim)
                        time.sleep(0.05)
                    else:
                        os.unlink(claim)

    def __exit__(self, *exc) -> None:
        try:
            os.unlink(self.path)
        except OSError:
            pass


def _check_knobs(index_dir: str, **caller: int) -> dict:
    """Validate caller-supplied query knobs against the persisted
    build manifest. A silently mismatched LSH plane/table count used
    to return near-empty candidate sets (signatures never match the
    postings); now it is a loud error (r7 ADVICE)."""
    man = read_manifest(index_dir)
    bad = {
        k: (v, man["knobs"][k])
        for k, v in caller.items()
        if v is not None and man["knobs"][k] != v
    }
    if bad:
        raise ValueError(
            f"ann index at {index_dir} was built with different knobs: "
            + ", ".join(
                f"{k}: caller={c} build={b}" for k, (c, b) in bad.items()
            )
        )
    return man


def build_ann_index(
    spark: SparkSession,
    corpus: DataFrame,
    corpus_key: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 12,
    pq_m: int = 16,
    pq_k: int = 32,
    lsh_planes: int = 6,
    lsh_tables: int = 10,
    seed: int = 42,
) -> str:
    """Train + materialize every ANN artifact for ``corpus``; return
    the index directory. Cached per (process, corpus_key, knobs) —
    the build runs once, later calls return the existing dir.

    ``corpus_key`` identifies the corpus (e.g. the sf dir realpath);
    it is hashed together with the knobs AND a content fingerprint
    of the files behind it (sizes + mtimes), so both a knob change
    and a data regeneration at the same path rebuild rather than
    serving a stale layout. The build lands in a temp dir and is
    published with one atomic rename: a concurrent reader of an
    existing index never sees a half-written directory, and a
    second process that finds a published index adopts it instead
    of rebuilding (r7 ADVICE).
    """
    knobs = {
        "n_clusters": n_clusters,
        "pq_m": pq_m,
        "pq_k": pq_k,
        "lsh_planes": lsh_planes,
        "lsh_tables": lsh_tables,
    }
    fp = _content_fingerprint(corpus_key)
    tag = hashlib.md5(
        f"{corpus_key}|{fp}|{n_clusters}|{pq_m}|{pq_k}|{lsh_planes}|{lsh_tables}|{seed}".encode()
    ).hexdigest()[:12]
    if tag in _ANN_BUILT:
        return _ANN_BUILT[tag]
    root = os.path.join(_warehouse_dir(spark), f"ann_idx_{tag}")
    if os.path.exists(os.path.join(root, MANIFEST)):
        # published by an earlier process; the tag already encodes
        # corpus content + knobs + seed, so the artifacts are valid
        _ANN_BUILT[tag] = root
        return root
    build_dir = root + f".build-{os.getpid()}"
    shutil.rmtree(build_dir, ignore_errors=True)

    sample = _train_sample(corpus, vec_col, seed)
    if sample.size == 0:
        # empty corpus -> EMPTY INDEX (r9 adversarial empty_tables
        # find): there is no dim to train centroids/codebooks on, so
        # every artifact is a schema'd 0-row relation and all query
        # paths return their empty shapes. Same atomic publish.
        for name in ARTIFACTS:
            _write_small_artifact(spark, os.path.join(build_dir, name), name)
    else:
        # train once, both on one sample: IVF coarse quantizer + PQ
        # per-subspace codebooks
        cents = _centroids(sample, n_clusters, seed)
        books = train_pq_codebooks(sample, pq_m, pq_k, seed)
        models = {
            "ivf_centroids": [(c, v.tolist()) for c, v in enumerate(cents)],
            "pq_codebooks": [
                (s, c, v.tolist())
                for s, book in enumerate(books)
                for c, v in enumerate(book)
            ],
        }
        for name, rows in models.items():
            _write_small_artifact(spark, os.path.join(build_dir, name), name, rows)
        _write_corpus_artifacts(
            corpus, cents, books, knobs, build_dir, "", id_col, vec_col
        )

    _write_manifest(
        build_dir,
        {
            "corpus_key": corpus_key,
            "fingerprint": fp,
            "knobs": knobs,
            "seed": seed,
            "version": 1,
            "appends": [],
            "segments": {name: [name] for name in ARTIFACTS},
        },
    )
    # publish: one atomic rename. If another process won the race
    # while we built, adopt its copy and discard ours.
    try:
        os.rename(build_dir, root)
    except OSError:
        if not os.path.exists(os.path.join(root, MANIFEST)):
            raise
        shutil.rmtree(build_dir, ignore_errors=True)
    _ANN_BUILT[tag] = root
    return root


def _committed(man: dict, batch_key: str | None) -> bool:
    """True when ``batch_key`` is already in the manifest lineage."""
    return batch_key is not None and any(
        a.get("batch_key") == batch_key for a in man["appends"]
    )


def refresh_ann_index(
    spark: SparkSession,
    index_dir: str,
    batch: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_key: str | None = None,
) -> str:
    """Incrementally append ``batch`` to a persisted index WITHOUT
    retraining (r7 VERDICT #5, the L46 incremental-dedup pattern
    applied to the ANN lifecycle): new vectors are assigned to the
    FROZEN IVF cells, encoded with the FROZEN PQ codebooks, and their
    LSH postings appended — a daily-crawl append costs O(|batch|),
    not a corpus re-encode.

    Freezing the quantizers is the standard staleness trade (FAISS
    add-with-ids semantics): candidate GENERATION uses slightly
    stale centroids, but scoring/re-rank is exact over the true
    appended vectors, so result quality degrades only through cell
    routing — bounded by the centroid drift the appended data
    causes, which `tests/test_ann_index.py` pins. Each refresh bumps
    the manifest version and records lineage (rows appended), so an
    operator can schedule a full rebuild once drift accumulates.

    ``batch_key`` makes the append exactly-once: a refresh whose key
    is already in the manifest lineage is a no-op (the contract
    query and bench re-invoke queries; re-appending the same crawl
    batch would silently double the corpus).

    CRASH ATOMICITY (r9, VERDICT r8 #2): the three appended
    artifacts are written as NEW segment directories that no reader
    resolves until the manifest lists them — the manifest write
    (os.replace, atomic on POSIX) is the single commit point, the
    same discipline as the build path's atomic rename. A crash after
    the segment writes but before the manifest commit leaves orphan
    dirs that are invisible to readers (reclaimed later by
    ``vacuum_ann_index``); the re-issued refresh stages fresh dirs
    and lands exactly once via batch_key.

    CONCURRENCY (r10, r9 ADVICE): staged dirs carry a
    (version, pid, seq)-unique suffix, so two concurrent refreshes
    can never overwrite each other's staged segments, and the commit
    itself runs under an O_EXCL lock that RE-READS the manifest:
    a batch_key another writer committed first becomes a no-op (our
    staged dirs are discarded), and a version another writer bumped
    is rebased onto — both appends survive in lineage.

    EMPTY BATCHES (r10, r9 ADVICE): a zero-row batch commits its
    batch_key to lineage (exactly-once still holds) but creates NO
    segment dirs — the streamed drain path (L63) produces one
    refresh per micro-batch, and empty micro-batches must not grow
    the per-artifact segment list the readers union.
    """
    man = read_manifest(index_dir)
    if _committed(man, batch_key):
        return index_dir
    suffix = f"_v{man['version'] + 1}-{os.getpid()}-{next(_ATTEMPT_SEQ)}"

    # stage: fresh segment dirs, invisible until the manifest commit.
    # An empty batch stages nothing and commits lineage only.
    n_appended = batch.count()
    staged = n_appended > 0
    if staged:
        _write_corpus_artifacts(
            batch, _load_centroids(spark, index_dir),
            _load_codebooks(spark, index_dir), man["knobs"], index_dir,
            suffix, id_col, vec_col,
        )
    # commit: one atomic manifest replace publishes the staged
    # segments together with the lineage bump. Inside the lock the
    # manifest is RE-READ: a concurrent writer that committed first
    # either already landed this batch_key (ours becomes a no-op and
    # the staged dirs are discarded) or bumped the version (we
    # rebase our append on top — both survive).
    with _commit_lock(index_dir):
        man = read_manifest(index_dir)
        if _committed(man, batch_key):
            _drop_dirs(index_dir, [name + suffix for name in _SEGMENTED])
            return index_dir
        man["version"] += 1
        if staged:
            for name in _SEGMENTED:
                man["segments"][name] = man["segments"][name] + [name + suffix]
        man["appends"].append(
            {
                "version": man["version"],
                "rows": n_appended,
                "batch_key": batch_key,
            }
        )
        _write_manifest(index_dir, man)
    return index_dir


def compact_ann_index(spark: SparkSession, index_dir: str) -> str:
    """Fold every appended segment of the corpus-sized artifacts
    into ONE fresh base snapshot per artifact (r9 VERDICT #1 — the
    ``mor_compact`` pattern from sinks.py applied to the index).

    The streamed refresh loop (L63) commits one segment set per
    micro-batch; after months of daily appends the manifest resolves
    hundreds of segment dirs per artifact and every query plan
    unions that many parquet scans — unbounded read amplification.
    Compaction rewrites each artifact's union as a single snapshot
    dir (``vectors`` re-partitioned by cell so IVF pruning keeps
    working), swaps the manifest's segment list to just it, and
    RETAINS the ``appends`` lineage — batch_keys survive, so a
    replayed refresh is still exactly-once after compaction.

    Same commit discipline as refresh: snapshots are staged under
    attempt-unique dir names invisible to readers, the manifest
    os.replace is the single commit point (crash before it leaves
    the index untouched; tests pin this), and the commit runs under
    the O_EXCL lock. If a concurrent refresh committed between our
    snapshot read and the commit, the compaction ABORTS (returns
    with the index unchanged) rather than publish a snapshot missing
    that append — the caller (a maintenance job) simply re-runs.
    Folded segment dirs are deleted best-effort AFTER the commit;
    crashed-attempt orphans are reclaimed by ``vacuum_ann_index``.

    Idempotent: when every segment list is already length 1 there is
    nothing to fold and the call is a no-op (no version bump).
    """
    man = read_manifest(index_dir)
    if all(len(man["segments"][name]) == 1 for name in _SEGMENTED):
        return index_dir
    version_read = man["version"]
    attempt = f"-{os.getpid()}-{next(_ATTEMPT_SEQ)}"
    staged = {
        name: f"{name}_c{version_read + 1}{attempt}" for name in _SEGMENTED
    }

    n_vec = _read_artifact(spark, index_dir, "vectors").count()
    for name in _SEGMENTED:
        dst = os.path.join(index_dir, staged[name])
        if n_vec == 0:
            # a partitioned/coalesced write of an empty frame leaves
            # an unreadable no-file dir; write schema-first instead
            _write_small_artifact(spark, dst, name)
        else:
            _write_artifact(_read_artifact(spark, index_dir, name), dst, name)

    with _commit_lock(index_dir):
        man = read_manifest(index_dir)
        if man["version"] != version_read:
            # a refresh landed while we were folding: our snapshot
            # is stale — abort, leave the index as-is, let the
            # maintenance job re-run
            _drop_dirs(index_dir, staged.values())
            return index_dir
        folded = {name: man["segments"][name] for name in _SEGMENTED}
        man["version"] += 1
        for name in _SEGMENTED:
            man["segments"][name] = [staged[name]]
        man.setdefault("compactions", []).append(
            {
                "version": man["version"],
                "rows": n_vec,
                "folded": folded,
            }
        )
        _write_manifest(index_dir, man)
    # space reclaim: the folded dirs are no longer referenced by any
    # manifest a reader can load. Best-effort — a reader that bound
    # its plan to the OLD manifest mid-flight would fail its scan,
    # so run compaction when no long-running queries are in flight
    # (the same operational contract as mor_compact).
    _drop_dirs(
        index_dir,
        [
            seg
            for name, old in folded.items()
            for seg in old
            if seg not in man["segments"][name]
        ],
    )
    return index_dir


def vacuum_ann_index(index_dir: str) -> list[str]:
    """Remove index subdirectories no manifest segment references —
    the orphans a crashed refresh/compact attempt staged but never
    committed. Requires no writer in flight (an in-progress attempt's
    staged dirs look exactly like orphans). Returns removed names."""
    segments = read_manifest(index_dir)["segments"]
    referenced = {seg for name in ARTIFACTS for seg in segments[name]}
    removed = [
        entry
        for entry in sorted(os.listdir(index_dir))
        if os.path.isdir(os.path.join(index_dir, entry))
        and entry not in referenced
    ]
    _drop_dirs(index_dir, removed)
    return removed


def _vectors(spark: SparkSession, index_dir: str) -> DataFrame:
    # partition-column inference may narrow `cell`; pin it back
    return _read_artifact(spark, index_dir, "vectors").select(
        "neighbor_id", "cv", F.col("cell").cast("long").alias("cell")
    )


def _allowed(df: DataFrame, allowed_ids: DataFrame | None) -> DataFrame:
    """The metadata-filtered-search pushdown every production vector
    store ships, shared by all three query paths: ``allowed_ids``
    (one ``neighbor_id`` column) semi-joins the corpus-side artifact
    — IVF vectors, PQ codes, LSH postings — before any scoring, so
    top-k ranks only over the allowed subset (pre-filter semantics:
    a post-filter of an unfiltered top-k would silently return < k
    or miss allowed neighbors entirely) and the candidate work
    shrinks with the filter's selectivity."""
    if allowed_ids is None:
        return df
    return df.join(allowed_ids.select("neighbor_id"), "neighbor_id", "left_semi")


def _exact_rerank(
    spark: SparkSession,
    index_dir: str,
    cand: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact top-k over (query_id, neighbor_id) candidates: `dot` of
    the normalized query against the persisted normalized vector.
    No forced broadcast (r9): a corpus-sized query batch must not be
    driver-materialized by a hint; AQE broadcasts small sets on its
    own and shuffles the rest."""
    qv = queries.select(
        F.col(id_col).alias("query_id"), l2_normalize(F.col(vec_col)).alias("qv")
    )
    scored = (
        cand.join(qv, "query_id")
        .join(_vectors(spark, index_dir), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    return _topk(scored, k)


def ivf_query(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    n_queries_hint: int | None = None,
) -> DataFrame:
    """IVF search against a persisted index: probe-list UDF over the
    (tiny, driver-loaded) centroid matrix, equi-join on cell against
    the cell-partitioned vectors artifact, exact re-rank. No
    training, no corpus re-encode.

    ``allowed_ids`` (optional) pre-filters the cell vectors
    (``_allowed``).

    Execution strategy by batch size (r12, the sf10 spill find): a
    SMALL query batch (the serving case) joins cells row-wise and
    broadcasts naturally — optimal, and partition pruning on the
    cell-partitioned artifact reads only the probed cells. A
    CORPUS-AS-QUERIES batch must not run that shape: Catalyst's size
    estimate through the Arrow probe UDF undercounts, so it happily
    broadcast 800k queries x 64-d vectors (~440 MB) into the vector
    scan's file splits, and even with the join fixed the row-wise
    path MATERIALIZES every (query, candidate) pair into the top-k
    window's sort — measured 10.7 GB of sort spill at sf10 (205M
    pair rows). Above LARGE_QUERY_BATCH the plan switches to a
    cell-keyed COGROUP (the brute_force_topk machinery with the IVF
    cell as the block key): queries and cell vectors co-partition
    once, numpy scores each cell block and emits only its per-query
    top-k, and the final window merges n_probe * k rows per query.
    Candidate pairs never exist as Spark rows — no candidate
    shuffle, no candidate sort, no spill. Scores accumulate in
    ascending dim order (the `dot` fold), so both paths are
    bit-identical."""
    # bounded size probe: the branch only needs "0, <=threshold, or
    # more" — limit() stops the scan at threshold+1 rows instead of
    # counting a corpus-sized batch (and replaces the old isEmpty).
    # Callers that know their batch size (serving paths with a fixed
    # query set, corpus-as-queries plans) pass n_queries_hint to skip
    # the probe job entirely — the probe re-executes the upstream
    # query plan, which for an exploded grid corpus is not free.
    n_queries = (
        n_queries_hint
        if n_queries_hint is not None
        else queries.limit(LARGE_QUERY_BATCH + 1).count()
    )
    if n_queries == 0:
        return _empty_result(spark)
    cents = _load_centroids(spark, index_dir)
    if cents.size == 0:  # empty index: no cells, no neighbors
        return _empty_result(spark)

    @F.pandas_udf("array<long>")
    def probe_cells(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        d = _sq_dists(_norm_rows(vs), cents)
        order = np.argsort(d, axis=1)[:, :n_probe].astype(np.int64)
        return pd.Series(list(order))

    vectors = _allowed(_vectors(spark, index_dir), allowed_ids)

    if n_queries > LARGE_QUERY_BATCH:
        q_raw = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv_raw"),
            F.explode(probe_cells(F.col(vec_col))).alias("cell"),
        )

        def _score_cell(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
            if not len(qpdf) or not len(cpdf):
                return _block_frame([])
            # queries normalize with the l2_normalize fold; corpus
            # vectors come PRE-normalized from the artifact — used as
            # stored, exactly like the row-wise `dot` path
            return _block_topk(
                qpdf["query_id"].to_numpy(),
                _norm_dim_ordered(_matrix(qpdf["qv_raw"])),
                cpdf["neighbor_id"].to_numpy(),
                _matrix(cpdf["cv"]),
                k,
            )

        sims = (
            q_raw.groupby("cell")
            .cogroup(vectors.groupby("cell"))
            .applyInPandas(
                _score_cell,
                schema="query_id long, neighbor_id long, cos_sim double",
            )
        )
        return _topk(sims, k)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        l2_normalize(F.col(vec_col)).alias("qv"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    cand = (
        q.join(vectors, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            dot(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    return _topk(cand, k)


def pq_query(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
    n_queries_hint: int | None = None,
) -> DataFrame:
    """ADC search over the persisted code table + exact re-rank
    against the persisted normalized vectors.

    ``allowed_ids`` (optional) pre-filters the CODE TABLE
    (``_allowed``), so the lookup-table scoring, the candidate window
    and the exact re-rank all run over the allowed subset only.
    Exactness lever: with rerank_factor sized so k' >= |allowed|,
    every allowed vector survives the ADC cut and the exact re-rank
    makes the result EXACT filtered kNN — the construction the
    oracle-backed ann_filtered_pq contract uses.

    FULLY DISTRIBUTED query batches (r9, VERDICT r8 #3): r8 collected
    the query set to the driver and precomputed all LUTs there, which
    bounded |Q| by driver memory. Now the only driver-side load is
    the codebook tensor (m x k x d/m doubles — a model artifact);
    queries stay a DataFrame end to end. The ADC pass is a block
    nested-loop at CHUNK granularity — the standard distributed
    matmul decomposition:

    - queries get a content-hashed chunk id qc (|Q|/PQ_QUERY_CHUNK_ROWS
      chunks), codes a chunk id cc; each side is replicated across
      the other's chunk range (shuffle rows |Q|·Cc + |C|·Cq — the
      unavoidable all-pairs transfer, at chunk granularity instead
      of row granularity);
    - a pandas COGROUP on (qc, cc) computes per-query LUTs
      executor-side (numpy einsum over the broadcast codebooks) and
      emits each block's deterministic ADC top-k' (lexsort:
      adc desc, neighbor_id asc — no argpartition tie ambiguity);
    - a global window takes the true ADC top-k' from the block
      partials (any global top-k' row is in its block's top-k'), and
      ``_exact_rerank`` joins the persisted normalized vectors.

    Corpus-as-queries sweeps (|Q| ~ |corpus|, the ann_semantic_sweep
    contract) run through exactly this path.
    """
    books = _load_codebooks(spark, index_dir)
    if books.size == 0:  # empty index: no codes, no neighbors
        return _empty_result(spark)
    m_sub, _, d_sub = books.shape
    k_prime = k * rerank_factor

    # bounded size hint (r13, the ivf_query pattern): the count only
    # sizes the chunk grid, which is exact for any grid — callers
    # with a known batch bound skip a job that re-executes the
    # upstream query plan
    n_q = n_queries_hint if n_queries_hint is not None else queries.count()
    if n_q == 0:
        return _empty_result(spark)
    codes = _allowed(_read_artifact(spark, index_dir, "pq_codes"), allowed_ids)
    n_codes = (
        _frozen(spark, index_dir, "pq_codes", DataFrame.count)
        if allowed_ids is None
        else codes.count()
    )
    q_rep, c_rep = _chunk_grid(
        queries,
        [F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv_raw")],
        id_col,
        n_q,
        PQ_QUERY_CHUNK_ROWS,
        codes,
        ["neighbor_id", "codes"],
        "neighbor_id",
        n_codes,
        PQ_CODE_CHUNK_ROWS,
    )

    def adc_block(qpdf: pd.DataFrame, cpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qpdf) or not len(cpdf):
            return _block_frame([], "adc")
        q_ids = qpdf["query_id"].to_numpy()
        q_mat = _unit_rows(_matrix(qpdf["qv_raw"]))
        lut = np.einsum(
            "qsd,skd->qsk", q_mat.reshape(len(q_mat), m_sub, d_sub), books
        )
        # stable block order -> deterministic partials
        cpdf = cpdf.sort_values("neighbor_id")
        cm = np.vstack(cpdf["codes"].to_numpy()).astype(np.int64)
        nid = cpdf["neighbor_id"].to_numpy()
        sub_idx = np.arange(m_sub)
        parts = []
        for qi in range(len(q_ids)):
            adc = lut[qi][sub_idx[None, :], cm].sum(axis=1)
            # deterministic top-k' (adc desc, neighbor_id asc) with
            # self matches excluded INSIDE the block (r10, r9 ADVICE):
            # filtering after the cogroup let the block holding the
            # query's own code row spend one of its k' slots on the
            # self match, making the candidate set depend on the
            # chunk grid.
            parts += _emit_topk(q_ids[qi : qi + 1], nid, adc[:, None], k_prime)
        return _block_frame(parts, "adc")

    partials = (
        q_rep.groupby("qc", "cc")
        .cogroup(c_rep.groupby("qc", "cc"))
        .applyInPandas(
            adc_block, schema="query_id long, neighbor_id long, adc double"
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc("neighbor_id")
    )
    cand = (
        partials.withColumn("r", F.row_number().over(w_adc))
        .where(F.col("r") <= k_prime)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(spark, index_dir, cand, queries, k, id_col, vec_col)


def lsh_query(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 10,
    probe_bits: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed_ids: DataFrame | None = None,
) -> DataFrame:
    """Multi-table multiprobe LSH against the persisted bucket
    postings.

    ``allowed_ids`` (optional) pre-filters the bucket POSTINGS
    (``_allowed``) before the probe join. Query signatures regenerate
    from the shared seed (the planes are stateless); only the corpus-side postings were worth
    persisting — at scale they are the L-rows-per-vector artifact
    you never want to rebuild per query batch. Caller knobs are
    validated against the build manifest: a plane/table mismatch
    would regenerate signatures that never match the postings and
    silently return near-empty candidates — now a loud error."""
    _check_knobs(index_dir, lsh_planes=n_planes, lsh_tables=n_tables)
    q_sig = _lsh_postings(queries, id_col, vec_col, n_planes, n_tables, "query_id")
    probes = [F.col("sig")]
    if probe_bits >= 1:
        probes += [
            F.col("sig").bitwiseXOR(F.lit(1 << b)) for b in range(n_planes)
        ]
    q_idx = q_sig.select(
        "query_id", "t", F.explode(F.array(*probes)).alias("sig")
    )
    buckets = _allowed(_read_artifact(spark, index_dir, "lsh_buckets"), allowed_ids)
    cand = (
        q_idx.join(buckets, ["t", "sig"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _exact_rerank(spark, index_dir, cand, queries, k, id_col, vec_col)


def index_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    """Per-artifact row counts as ONE lazy union plan — the
    oracle-checkable surface of the build (each count is derivable
    from |embeddings| and the knobs)."""
    # GLOBAL agg per artifact (not groupBy on the literal): a 0-row
    # artifact must still report its (artifact, 0) row — a grouped
    # agg over zero rows emits zero groups
    parts = [
        _read_artifact(spark, index_dir, name)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(name).alias("artifact"), "n_rows")
        for name in ARTIFACTS
    ]
    return reduce(DataFrame.unionByName, parts).orderBy("artifact")
