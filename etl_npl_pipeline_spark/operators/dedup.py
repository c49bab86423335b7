"""Deduplication operators for training-data pipelines: exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Scale design:
- exact: md5 of normalized text → one groupBy. The hash shrinks
  shuffle keys to 16 bytes regardless of document size.
- minhash: shingle → 64 permuted min-hashes computed as 64 agg
  expressions over one explode (single shuffle on doc_id), then
  banded LSH so candidate generation is an equi-join on
  (band, band_hash) — never an all-pairs product.
- simhash: 64 signed bit-sums as agg expressions, blocked by 112
  permuted 20-bit prefixes (a hamming-≤7 pair shares ≥1 prefix).
- ngram_jaccard: inverted-index self-join on shingle; intersection
  counts fall out of the join, unions from per-doc counts. The
  shingle join key keeps the product sparse — frequency-capped to
  dodge the quadratic blowup a stop-shingle would cause.
- embedding: label-blocked pairwise cosine (block key bounds the
  pair count); the general ANN path is in similarity.py.

Everything is DataFrame-native: hashes via xxhash64/md5 builtins,
no Python in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

N_PERM = 64
N_BANDS = 16  # 16 bands x 4 rows per band
ROWS_PER_BAND = N_PERM // N_BANDS
# Mersenne-31: hash values < 2^31 keep a*h + b inside a 63-bit long
# (Spark runs ANSI mode — a 64-bit overflow is an error, and there
# is no 128-bit integer type to widen into).
MERSENNE = (1 << 31) - 1

# Deterministic permutation parameters (a*h + b) mod p. Generated
# from a fixed LCG so every run/engine sees identical permutations.
_PERMS: list[tuple[int, int]] = []
_seed = 0x5EED
for _ in range(N_PERM):
    _seed = (_seed * 6364136223846793005 + 1442695040888963407) % (1 << 63)
    a = (_seed % (MERSENNE - 1)) + 1
    _seed = (_seed * 6364136223846793005 + 1442695040888963407) % (1 << 63)
    b = _seed % MERSENNE
    _PERMS.append((a, b))


def normalize_text(col: F.Column | str) -> F.Column:
    """Canonical form for exact dedup: lowercase, trim, collapse
    whitespace (the usual first pass before hashing)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-duplicate groups: md5(normalized text) → (hash, keeper
    id, group size). Keeper = min id, the conventional winner."""
    return (
        df.select(F.col(id_col), F.md5(normalize_text(text_col)).alias("h"))
        .groupBy("h")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def word_shingles(col: F.Column | str, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles of a text column (arrays stay
    JVM-side; `transform` over a sliding index range)."""
    toks = F.split(F.trim(F.col(col) if isinstance(col, str) else col), r"\s+")
    # arrays_zip of n shifted views; each zip argument is evaluated
    # ONCE per row. (The tempting formulation
    # `transform(sequence(...), i -> element_at(toks, i+j))` embeds
    # `toks` — i.e. the split() — inside the lambda, and lambda
    # bodies are re-evaluated per element: O(words²) splitting per
    # document. Measured 4x slowdown on the minhash path.)
    shifted = [toks] + [
        F.slice(toks, j + 1, F.greatest(F.size(toks) - j, F.lit(0)))
        for j in range(1, n)
    ]
    z = F.arrays_zip(*shifted)
    # zip pads short arrays with null: a struct whose last field is
    # null is a window that ran off the end — drop it. This also
    # handles docs with fewer than n tokens (empty result).
    full = F.filter(z, lambda s: s[str(n - 1)].isNotNull())
    grams = F.transform(
        full, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )
    return F.array_distinct(grams)


def _exploded_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Per-doc MinHash signature: 64 columns sig_0..sig_63.

    Shingle hashing stays JVM-side (xxhash64 folded into [0, p) via
    pmod); the 64 permutation-min folds run in a numpy-vectorized
    pandas_udf. Rationale: Catalyst higher-order-function lambdas
    are *interpreted* per element (not codegen'd) and an
    explode+groupBy formulation pays a (doc, hash) shuffle —
    measured 11.7s/6.7s respectively at sf0.1 vs ~2s for the Arrow
    path. This is map-only: no shuffle, batch-at-a-time numpy
    (flat concat + (h*a+b) mod p + minimum.reduceat per perm).
    """
    from pyspark.sql.functions import pandas_udf

    perms_a = np.array([a for a, _ in _PERMS], dtype=np.uint64)
    perms_b = np.array([b for _, b in _PERMS], dtype=np.uint64)
    p = np.uint64(MERSENNE)
    empty_sig = [int(MERSENNE)] * N_PERM

    @pandas_udf("array<long>")
    def sig_udf(hs: pd.Series) -> pd.Series:
        lens = np.fromiter((len(x) for x in hs), dtype=np.int64, count=len(hs))
        if lens.sum() == 0:
            return pd.Series([empty_sig] * len(hs))
        flat = np.concatenate([np.asarray(x, dtype=np.uint64) for x in hs if len(x)])
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        out = np.empty((len(hs), N_PERM), dtype=np.int64)
        nonempty = lens > 0
        ne_starts = starts[nonempty]
        for i in range(N_PERM):
            vals = (flat * perms_a[i] + perms_b[i]) % p
            mins = np.minimum.reduceat(vals, ne_starts)
            col = np.full(len(hs), MERSENNE, dtype=np.int64)
            col[nonempty] = mins.astype(np.int64)
            out[:, i] = col
        return pd.Series(list(out))

    hs = df.select(
        F.col(id_col).alias("doc"),
        # null text -> empty hash list (not None): a None element
        # would crash the Arrow UDF's len() pass executor-side; the
        # empty list flows to the empty-doc sentinel signature, and
        # candidate verification (exact jaccard) emits no pairs for
        # shingle-less docs — null behaves exactly like empty
        F.coalesce(
            F.transform(
                word_shingles(text_col, n),
                lambda s: F.pmod(F.xxhash64(s), F.lit(MERSENNE)),
            ),
            F.array().cast("array<bigint>"),
        ).alias("hs"),
    )
    sig = hs.select("doc", sig_udf(F.col("hs")).alias("sig"))
    # one parsed projection, not 64 Column builds (README: repetitive
    # expression families)
    return sig.selectExpr(
        "doc", *[f"element_at(sig, {i + 1}) AS sig_{i}" for i in range(N_PERM)]
    )


DEFAULT_MAX_BUCKET = 1000


def _drop_oversize_buckets(
    long: DataFrame, keys: list[str], max_bucket_size: int
) -> DataFrame:
    """Remove rows whose bucket exceeds ``max_bucket_size`` BEFORE any
    collect_list, so no aggregation buffer can grow unbounded.

    An oversize LSH bucket is degenerate (boilerplate / constant
    content): it contributes C(n,2) ~ 10^12 pairs for n=10^6 and no
    discriminative signal — the same rationale as jaccard_pairs'
    ``max_shingle_freq``. Implemented as a count over the bucket-key
    window, NOT a separate groupBy + anti-join: the window keeps the
    (expensive) signature subtree evaluated exactly once, its buffer
    spills to disk rather than OOMing on a mega-bucket, and its
    exchange on ``keys`` is reused by the downstream groupBy.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        long.withColumn("_bn", F.count(F.lit(1)).over(w))
        .where(F.col("_bn") <= max_bucket_size)
        .drop("_bn")
    )


def minhash_candidates(
    sigs: DataFrame, max_bucket_size: int = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidates.

    melt the signature into (doc, band, band_hash), group buckets,
    and explode within-bucket pairs. One exchange on (band, bh) and
    ONE evaluation of the signature subtree — a self-join
    formulation would execute the (expensive) signature computation
    once per join side. Pair count is sum of C(bucket,2), the
    irreducible LSH cost; buckets larger than ``max_bucket_size``
    are dropped before the collect (degenerate boilerplate buckets —
    see _drop_oversize_buckets), which bounds both executor memory
    and the pair explosion at corpus scale.
    """
    band_cols = (
        ", ".join(f"sig_{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        for b in range(N_BANDS)
    )
    bands = sigs.selectExpr(
        "doc", *[f"xxhash64({cols}) AS band_{b}" for b, cols in enumerate(band_cols)]
    )
    pairs = ", ".join(f"'{b}', band_{b}" for b in range(N_BANDS))
    long = bands.select(
        "doc", F.expr(f"stack({N_BANDS}, {pairs}) as (band, bh)")
    )
    long = _drop_oversize_buckets(long, ["band", "bh"], max_bucket_size)
    buckets = (
        long.groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list("doc")).alias("docs"))
        .where(F.size("docs") > 1)
    )
    # all ordered pairs (docs[i], docs[j]), i < j, via indexed HOFs
    pair_structs = F.flatten(
        F.transform(
            F.col("docs"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("docs"), i + F.lit(2), F.size(F.col("docs")) - i - 1
                ),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a"), F.col("p.doc_b"))
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 100,
) -> DataFrame:
    """Exact n-gram Jaccard over an inverted index.

    intersection(a,b) = number of shared shingles (join count);
    union = |A| + |B| - intersection. ``max_shingle_freq`` drops
    stop-shingles whose posting lists would explode the self-join
    (at corpus scale a shingle shared by 1M docs creates 10^12
    pairs; capping frequency bounds the quadratic term while
    keeping discriminative shingles).
    """
    from pyspark.sql import Window

    sh = _exploded_shingles(df, text_col, id_col, n)
    # Document frequency via a window over the shingle partitioning:
    # the exchange on `shingle` is planned once and reused by the
    # self-join below (same key) — one shuffle, not two.
    wfreq = Window.partitionBy("shingle")
    sh = sh.withColumn("df_", F.count(F.lit(1)).over(wfreq))
    if max_shingle_freq is not None:
        sh = sh.where(F.col("df_") <= max_shingle_freq)
    # The capped shingle table feeds FOUR consumers (both self-join
    # sides + both broadcast size frames) and Catalyst does not CSE
    # across a diamond DAG — without a checkpoint the explode+window
    # subtree executes four times. Lazy localCheckpoint: the first
    # consumer materializes it, the rest read the persisted blocks.
    # At corpus scale the capped table is ~n_docs x shingles rows of
    # (id, hash) — the same thing the shuffle already spills.
    sh = sh.localCheckpoint(eager=False)
    # doc sizes count the full (capped) universe, including df=1.
    # NO checkpoint on this frame (r14, reverting the r13 pin): the
    # fresh-process A/B convicted it — the lazy checkpoint is a
    # materialization BARRIER the two broadcast consumers must wait
    # on serially, while re-aggregating the already-persisted posting
    # checkpoint is a pipelined in-memory scan that overlaps with the
    # rest of the plan (measured min-of-3 steady at sf0.1:
    # dedup_ngram_jaccard 2.01 pre vs 2.36 with the pin,
    # dedup_components_star 3.40 vs 4.53 — r14_regression_adjudication.json).
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    # df=1 shingles can never produce a pair — drop them from the
    # join sides only (semantics unchanged, posting lists shrink)
    joinable = sh.where(F.col("df_") >= 2).select("doc", "shingle")
    a = joinable.alias("a")
    b = joinable.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            # try_divide: two shingle-less docs give union 0 — under
            # Spark 4's default ANSI mode a plain division would
            # abort the stage; NULL jaccard fails the threshold and
            # the degenerate pair drops (content-less docs are
            # exact-dedup's business, not near-dup's)
            "jaccard",
            F.try_divide(
                F.col("inter").cast("double"),
                (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def verify_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard for a (small) candidate pair set only.

    Joins each (doc_a, doc_b) pair to the two shingle *arrays* and
    intersects per pair — O(|candidates| x shingles/doc), not the
    full inverted-index product. This is the verify stage after LSH
    candidate generation: at corpus scale the candidate set is
    orders of magnitude smaller than all-pairs, so verification
    cost tracks the LSH output, not the corpus.
    """
    sets_ = df.select(
        F.col(id_col).alias("doc"), word_shingles(text_col, n).alias("sh")
    )
    sa = sets_.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets_.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            # same ANSI-safe rule as jaccard_pairs: union 0 -> NULL
            # -> pair drops
            "jaccard",
            F.try_divide(
                F.col("inter").cast("double"),
                (F.size("sh_a") + F.size("sh_b") - F.col("inter"))
                .cast("double"),
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def portable_token_hash(tok: F.Column) -> F.Column:
    """64-bit token hash both engines can compute: the first 16 hex
    chars of md5, split hi/lo so each conv() stays in int32 range,
    recombined by bit ops (shift wraps — bit ops are not ANSI
    arithmetic). Verified bit-identical to DuckDB's
    ('0x'||substr(md5(t),1,8))::BIGINT reconstruction, incl. empty
    and non-ASCII tokens (both engines hash UTF-8 bytes).

    Chosen over xxhash64 (r8) so SimHash is cross-engine
    deterministic and the dedup_simhash contract gets a FULL
    equality oracle; md5 costs more per token than xxhash64 but
    stays JVM-side codegen — still the cheap part of the pass."""
    hi = F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(tok), 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per doc from word-unigram hashes.

    Token hashing stays JVM-side (portable_token_hash — md5-derived,
    engine-reproducible); the 64 signed bit-sums + sign fold run
    numpy-vectorized in an Arrow pandas_udf (same rationale as
    minhash_signatures: the explode + 64-agg formulation pays a
    shuffle and interpreted expression evaluation). Map-only, one
    batch pass.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def sim_udf(hs: pd.Series) -> pd.Series:
        # ONE vectorized pass per batch (r14, guide §4.2): the old
        # per-document loop paid numpy dispatch ~10x per doc (~40 µs
        # each — the dominant cost of the signature stage at bench
        # scale). Flatten every doc's hashes into one array, then per
        # bit position j: extract bit j of all tokens and segment-sum
        # with add.reduceat over doc boundaries. Bit j of doc d is
        # set iff ones_d[j]*2 > n_d (i.e. the signed sum is > 0) —
        # identical arithmetic to the old formulation. The per-bit
        # loop (64 iterations) bounds memory at O(tokens) instead of
        # materializing a tokens×64 matrix.
        lens = np.fromiter(
            (len(x) for x in hs), dtype=np.int64, count=len(hs)
        )
        out = np.zeros(len(hs), dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series(out)
        flat = np.concatenate(
            [np.asarray(x, dtype=np.uint64) for x in hs if len(x)]
        )
        nonempty = lens > 0
        ne_lens = lens[nonempty]
        ne_starts = np.concatenate(([0], np.cumsum(ne_lens)[:-1]))
        sig = np.zeros(len(ne_lens), dtype=np.uint64)
        for j in range(64):
            ones = np.add.reduceat(
                ((flat >> np.uint64(j)) & np.uint64(1)).astype(np.int64),
                ne_starts,
            )
            sig |= (2 * ones > ne_lens).astype(np.uint64) << np.uint64(j)
        out[nonempty] = sig.astype(np.int64)
        return pd.Series(out)

    toks = df.select(
        F.col(id_col).alias("doc"),
        # null text -> empty list (not None): a None element crashes
        # the Arrow UDF's len() executor-side; empty folds to sig 0,
        # same as an empty doc
        F.coalesce(
            F.transform(
                F.split(F.trim(F.col(text_col)), r"\s+"),
                portable_token_hash,
            ),
            F.array().cast("array<bigint>"),
        ).alias("hs"),
    )
    return toks.select("doc", sim_udf(F.col("hs")).alias("simhash"))


# Permuted-prefix tables (Manku et al. 2007, "Detecting Near-
# Duplicates for Web Crawling"): the 64-bit signature is cut into 16
# subchunks of 4 bits; a TABLE is a 5-subset of subchunks whose
# concatenation forms a 20-bit blocking prefix — i.e. the structured
# bit-permutation that moves those 20 bits to the front. Tables are
# all 5-subsets within each HALF of the signature (2 x C(8,5) = 112).
#
# Determinism (the property the equality oracle rests on): ≤ 7
# differing bits touch ≤ 7 subchunks, leaving ≥ 9 clean; by
# pigeonhole one half holds ≥ ⌈9/2⌉ = 5 clean subchunks, and the
# 5-subset of clean subchunks in that half is one of its 56 tables —
# both docs post the identical 20-bit key there. So blocking recall
# is COMPLETE for hamming ≤ 7, not probabilistic.
_SIMHASH_SUBCHUNKS = 16  # 4 bits each
_SIMHASH_TABLE_WIDTH = 5  # subchunks per table -> 20-bit prefix


def _simhash_prefix_tables() -> list[tuple[int, ...]]:
    from itertools import combinations

    tables: list[tuple[int, ...]] = []
    for half in (range(0, 8), range(8, 16)):
        tables.extend(combinations(half, _SIMHASH_TABLE_WIDTH))
    return tables


_SIMHASH_TABLES = _simhash_prefix_tables()  # 112 tables


# per-table 64-bit masks: MASK[t] covers table t's five 4-bit
# subchunks; table t catches a pair iff (sig_a XOR sig_b) & MASK[t]
# == 0. Used for canonical-table pair emission (see _bucket_pairs).
def _table_masks() -> list[int]:
    masks = []
    for subs in _SIMHASH_TABLES:
        m = 0
        for s in subs:
            m |= 0xF << (4 * s)
        # wrap to SIGNED 64-bit: tables touching subchunk 15 set the
        # sign bit and an unsigned literal overflows java.lang.Long
        if m >= 1 << 63:
            m -= 1 << 64
        masks.append(m)
    return masks


_SIMHASH_TABLE_MASKS = _table_masks()


def _bucket_pairs(buckets: DataFrame, max_hamming: int) -> DataFrame:
    """All intra-bucket ordered pairs with hamming ≤ max_hamming.

    The hamming filter runs INSIDE the array transform — before the
    explode and the distinct's exchange — so the second shuffle
    carries only true near-pairs, not every bucket collision. r8
    filtered after the distinct and the collision pairs themselves
    were the x46.8 shuffle blow-up.

    Canonical-table emission: a near-identical pair collides in MANY
    of its 112 tables (hamming ≤ 2 ⇒ ~40+ catching tables), so even the filtered emission used to carry a
    ~20-40x duplication factor into the distinct's exchange
    (measured: 14M of sf1's 19.9M shuffle records were duplicate
    pair emissions). Which tables catch a pair is a pure local
    function of the signatures — table t catches iff
    (sig_a XOR sig_b) & MASK[t] == 0 — so each bucket emits a pair
    ONLY when its own table is the pair's FIRST catching table:
    exactly-once emission, no cross-task coordination, and the
    distinct becomes a near-no-op on an already-unique stream.
    (Interaction with the bucket cap: if a pair's canonical table
    was cap-dropped the pair is lost even though a later table still
    holds both docs — acceptable because a cap drop already meant
    losing bucket pairs, and the ground-truth oracle would surface
    it.)
    """
    pair_structs = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size(F.col("ds")) - i - 1),
                lambda y: F.struct(
                    x["doc"].alias("doc_a"),
                    y["doc"].alias("doc_b"),
                    x["simhash"].bitwiseXOR(y["simhash"]).alias("x"),
                ),
            ),
        )
    )
    near = F.filter(
        pair_structs, lambda p: F.bit_count(p["x"]) <= F.lit(max_hamming)
    )
    masks = F.array(
        *[F.lit(m).cast("long") for m in _SIMHASH_TABLE_MASKS]
    )
    this_table = F.shiftrightunsigned(F.col("pk"), 20)
    near = F.filter(
        near,
        lambda p: (
            F.array_position(
                F.transform(
                    masks, lambda m: p["x"].bitwiseAND(m) == 0
                ),
                F.lit(True),
            )
            - 1
        )
        == this_table,
    )
    return (
        buckets.select(F.explode(near).alias("p"))
        .select(
            "p.doc_a",
            "p.doc_b",
            F.bit_count(F.col("p.x")).alias("hamming"),
        )
        .distinct()
    )


def simhash_candidates(
    sigs: DataFrame,
    max_hamming: int = 7,
    max_bucket_size: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """ALL pairs with hamming(simhash) ≤ max_hamming (≤ 7), blocked
    by Manku-style permuted-prefix tables on 20-bit prefixes.

    The blocking recall is DETERMINISTIC (complete) for hamming ≤ 7
    by pigeonhole — see _SIMHASH_TABLES for the proof. That
    completeness is what lets dedup_simhash carry a GROUND-TRUTH
    equality oracle (brute-force hamming in SQL) rather than a
    blocking replay.

    Why 20-bit prefixes and not r8's masked 16-bit chunks (the r8
    superlinear_shuffle finding): expected bucket occupancy is
    n / 2^bits, and intra-bucket pair enumeration is
    T * n^2 / 2^(bits+1). At 16 bits the
    key space saturates in the 10^5–10^6-doc range (measured bytes
    x46.8 at sf0.1->sf1, then silent recall decay once the bucket
    cap binds). At 20 bits the same corpus enumerates ~9x fewer
    collisions (112/64 more postings, 16x larger key space), and the
    near-pair filter now runs before the distinct's exchange, so
    shuffle bytes are postings-dominated: 112 x ~16-byte rows per
    doc, linear in the corpus. Good to ~10^7 docs at ~50-doc mean
    occupancy; the next deterministic rung (24+ bits) costs ~10x
    postings (Turán-cover growth), so the >10^7 doctrine remains
    minhash-LSH (dedup_minhash), whose banding keys are full 64-bit
    hashes with no birthday regime.

    Bucket pairing keeps the minhash groupBy + pair-explode pattern —
    a self-join would execute the signature pandas_udf subtree once
    per join side. One exchange on the posting key, one signature
    evaluation, oversize buckets dropped before the collect.
    """
    if max_hamming > 7:
        raise ValueError(
            "prefix blocking guarantees recall only to hamming 7; "
            f"got max_hamming={max_hamming}"
        )
    # 16 subchunk nibbles, projected once so the signature UDF
    # subtree is evaluated exactly once beneath the posting explode.
    sub = sigs.select(
        "doc",
        "simhash",
        *[
            F.shiftrightunsigned(F.col("simhash"), 4 * s)
            .bitwiseAND(F.lit(0xF))
            .alias(f"sc_{s}")
            for s in range(_SIMHASH_SUBCHUNKS)
        ],
    )

    # pk = table_id << 20 | concat of the 5 subchunk nibbles. Built
    # as ONE parsed SQL expression: composing 112 x 11 Column ops via
    # the Python API costs a py4j round-trip per node (~3 s of
    # driver time per fresh DAG, measured); a single F.expr string
    # parses JVM-side in ~10 ms.
    def _table_key(tid: int, subchunks: tuple[int, ...]) -> str:
        terms = [str(tid << 20)] + [
            f"shiftleft(sc_{s}, {4 * j})" if j else f"sc_{s}"
            for j, s in enumerate(subchunks)
        ]
        return "(" + " | ".join(terms) + ")"

    postings = F.expr(
        "array("
        + ", ".join(
            _table_key(t, subs) for t, subs in enumerate(_SIMHASH_TABLES)
        )
        + ")"
    )
    long = sub.select(
        "doc", "simhash", F.explode(postings).alias("pk")
    )
    long = _drop_oversize_buckets(long, ["pk"], max_bucket_size)
    buckets = (
        long.groupBy("pk")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc", "simhash"))
            ).alias("ds")
        )
        .where(F.size("ds") > 1)
    )
    return _bucket_pairs(buckets, max_hamming)


def simhash_verified(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """Exact-verification stage after SimHash candidate generation
    (r8, the r4 minhash fix applied to L3): low-hamming signatures
    are a NECESSARY near-dup signal but not sufficient — r7 measured
    0.714 planted-pair precision without verification. Candidates
    are re-checked with exact MULTISET (bag) jaccard over token
    counts: Σ min(cnt_a, cnt_b) / Σ max(cnt_a, cnt_b). Bag — not
    set — because SimHash itself is a multiset fingerprint and
    small-vocabulary corpora saturate distinct-token sets (measured:
    25% of random pairs in the 31-word synthetic corpus clear
    set-jaccard 0.8, so a set verify separates nothing). A one-token
    edit on a W-token doc scores W/(W+1) ≥ 0.9 for W ≥ 9, while
    random count vectors score far lower.

    Shape: token counts are computed only for docs that appear in a
    candidate pair (semi-join prune), then one exchange on
    (doc, tok); Σ max falls out of Σ min and the two doc lengths
    (Σmax = W_a + W_b − Σmin), so only the intersection join runs.
    Cost tracks the candidate set, not the corpus.

    Output: (doc_a, doc_b, hamming, jaccard ≥ threshold)."""
    # the candidate subtree (signature UDF + posting shuffle) is
    # referenced THREE times below (both in_pairs branches + inter);
    # a lazy localCheckpoint materializes it once per action instead
    # of re-running the blocking per reference (the components.py
    # fixpoint pattern). Candidates are near-pairs only — tiny.
    candidates = candidates.localCheckpoint(eager=False)
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.split(
                F.trim(F.col(text_col) if isinstance(text_col, str) else text_col),
                r"\s+",
            )
        ).alias("tok"),
    )
    in_pairs = (
        candidates.select(F.col("doc_a").alias("doc"))
        .unionByName(candidates.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    toks = toks.join(in_pairs, "doc", "left_semi")
    cnts = toks.groupBy("doc", "tok").agg(F.count(F.lit(1)).alias("c"))
    w = toks.groupBy("doc").agg(F.count(F.lit(1)).alias("w"))
    ca = cnts.select(
        F.col("doc").alias("doc_a"), "tok", F.col("c").alias("c_a")
    )
    cb = cnts.select(
        F.col("doc").alias("doc_b"), "tok", F.col("c").alias("c_b")
    )
    inter = (
        candidates.join(ca, "doc_a")
        .join(cb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b", "hamming")
        .agg(F.sum(F.least("c_a", "c_b")).alias("im"))
    )
    wa = w.select(F.col("doc").alias("doc_a"), F.col("w").alias("w_a"))
    wb = w.select(F.col("doc").alias("doc_b"), F.col("w").alias("w_b"))
    return (
        inter.join(wa, "doc_a")
        .join(wb, "doc_b")
        .withColumn(
            # union 0 -> NULL -> pair drops (ANSI-safe, same rule as
            # jaccard_pairs)
            "jaccard",
            F.try_divide(
                F.col("im").cast("double"),
                (F.col("w_a") + F.col("w_b") - F.col("im")).cast("double"),
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select(
            "doc_a", "doc_b", "hamming", F.round("jaccard", 6).alias("jaccard")
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 100,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT over the same inverted index as
    ``jaccard_pairs``: C(A→B) = |S(A) ∩ S(B)| / |S(A)|. Catches the
    snippet-inclusion near-dups Jaccard structurally misses — a
    short quote fully contained in a long source has C ≈ 1 but
    Jaccard ≈ |snippet|/|source| (Broder's containment measure,
    the Lee et al. 2022 "partial overlap" case).

    Same scale machinery as jaccard_pairs: one shingle-key exchange
    shared by the df window and the posting self-join, stop-shingle
    cap bounding the quadratic term, lazy localCheckpoint feeding
    the diamond consumers. A pair survives if EITHER direction's
    containment clears ``threshold``.
    """
    from pyspark.sql import Window

    sh = _exploded_shingles(df, text_col, id_col, n)
    # df via groupBy + shuffle-hash join-back, NOT a count window
    # (the window form sorts every posting partition — the r13 sf10
    # spill find on the bottom-k twin; hash shapes spill nothing)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    if max_shingle_freq is not None:
        dfreq = dfreq.where(F.col("df_") <= max_shingle_freq)
    sh = sh.join(dfreq.hint("shuffle_hash"), "shingle")
    sh = sh.localCheckpoint(eager=False)
    # |docs|-row frame with two join consumers — NO checkpoint (r14,
    # reverting the r13 pin; see jaccard_pairs: the barrier cost
    # exceeds the pipelined re-aggregation of the posting checkpoint,
    # adjudicated in r14_regression_adjudication.json)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    joinable = sh.where(F.col("df_") >= 2).select("doc", "shingle")
    # shuffle_hash hints on every join touching a POSTING-sized or
    # corpus-sized relation (r13, the sf10 probe find): AQE sees the
    # COMPRESSED shuffle bytes of the posting relation (short
    # repetitive shingles compress far below the 64MB broadcast
    # threshold) and converts the SMJ to a broadcast whose in-heap
    # HashedRelation is GiB-scale — measured OOM at sf1 under an 8g
    # driver. A hinted shuffle-hash join builds only its partition's
    # hash table: scale-safe at any corpus size, no sort.
    a = joinable.alias("a").hint("shuffle_hash")
    b = joinable.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    scored = (
        inter.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.round(F.col("inter") / F.col("n_a"), 6).alias("cont_a"),
            F.round(F.col("inter") / F.col("n_b"), 6).alias("cont_b"),
        )
    )
    return scored.where(
        F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold
    )


BOTTOMK_K = 16


def containment_bottomk_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    k: int = BOTTOMK_K,
    max_shingle_freq: int | None = 100,
) -> DataFrame:
    """Containment at SKETCH cost (r12, VERDICT r11 #6): the bottom-k
    containment estimate (Broder 1997's sample-and-probe form). Where
    ``containment_pairs`` joins EVERY df>=2 posting pair before
    thresholding — candidate volume Θ(Σ df²), the quadratic term the
    df-cap merely bounds — this probes only each doc's k smallest
    shingle hashes against the inverted index:

      est C(A→B) = |bottomk(S(A)) ∩ S(B)| / min(k, |S(A)|)

    an unbiased estimate because bottom-k by a uniform hash is a
    uniform sample of S(A), and membership in S(B) is exact on the
    probe side. Probe volume is k·N rows regardless of document
    length, so candidate volume is bounded by k·N·cap — the same
    "cost tracks the sketch, not the corpus" shape as MinHash-LSH
    band buckets, reached without symmetric banding (which cannot
    see asymmetric containment: the snippet's bands are computed
    over S(A)∪S(B)-scale signatures where a contained snippet's
    Jaccard is near zero).

    Surviving candidates are re-checked with EXACT containment over
    the capped shingle sets (the simhash_verified doctrine: sketch =
    necessary signal, exact verify = sufficient), so an emitted pair
    is always exactly-thresholded; the sketch can only MISS a pair
    whose true containment sits near the threshold (a fully
    contained snippet estimates 1.0 — every probe hits). The hash
    is md5 hex order — engine-portable, so a SQL oracle replays the
    sampling, the probe, the cutoff, and the verify bit-for-bit.
    """
    from pyspark.sql import Window

    sh = _exploded_shingles(df, text_col, id_col, n)
    # df via groupBy + shuffle-hash join-back, NOT a count window:
    # the aggregate's per-shingle counts are a fraction of the
    # posting rows a count-window must co-sort, and the join-back
    # streams against a per-partition hash of the (small) counts
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    if max_shingle_freq is not None:
        dfreq = dfreq.where(F.col("df_") <= max_shingle_freq)
    sh = sh.join(
        dfreq.select("shingle").hint("shuffle_hash"), "shingle"
    )
    sh = sh.select("doc", "shingle").localCheckpoint(eager=False)
    # sizes is a |docs|-row frame consumed by three joins — NO
    # checkpoint (r14, reverting the r13 pin): re-aggregating the
    # persisted posting checkpoint per consumer is pipelined and
    # overlaps; the lazy-checkpoint barrier serialized the consumers
    # (adjudicated: bottomk 3.70 pre vs 4.76 with the r13 pins,
    # r14_regression_adjudication.json)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))

    wdoc = Window.partitionBy("doc").orderBy(
        F.md5("shingle").asc(), F.col("shingle").asc()
    )
    probes = (
        sh.withColumn("rn", F.row_number().over(wdoc))
        .where(F.col("rn") <= k)
        .select(F.col("doc").alias("src"), "shingle")
    )
    # shuffle_hash hints wherever a posting/corpus-sized relation
    # joins (see containment_pairs): AQE's compressed-bytes estimate
    # of the checkpointed posting relation sits under the 64MB
    # broadcast threshold while its in-heap HashedRelation is
    # GiB-scale — measured OOM at sf1 (r13 sf10 probe). The hinted
    # side's per-partition hash build is bounded at any corpus size.
    hits = (
        probes.hint("shuffle_hash").join(
            sh.select(F.col("doc").alias("dst"), "shingle"), "shingle"
        )
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    est = hits.join(
        sizes.select(F.col("doc").alias("src"), "n_sh").hint(
            "shuffle_hash"
        ),
        "src",
    ).select(
        "src",
        "dst",
        (F.col("h") / F.least(F.lit(k), F.col("n_sh"))).alias("e"),
    )
    cand = (
        est.where(F.col("e") >= threshold)
        .select(
            F.least("src", "dst").alias("doc_a"),
            F.greatest("src", "dst").alias("doc_b"),
        )
        .distinct()
        # three consumers (the verify join + both cdocs branches):
        # without a checkpoint each replays the whole sketch
        # pipeline — probes, hits, est — from the posting relation
        .localCheckpoint(eager=False)
    )

    # exact verify over the capped shingle sets — identical scoring
    # to containment_pairs, restricted to the sketch's candidates.
    # r13: semi-reduce the postings to CANDIDATE docs first (one
    # doc-keyed exchange, shared by both verify sides) instead of
    # exchanging the full posting relation once per side — the b
    # side's (doc_b, shingle) exchange then carries only candidate
    # docs' postings (guide §3.2, reduce the big side before the
    # join; candidate volume is the sketch's own bound, k·N·cap)
    cdocs = (
        cand.select(F.col("doc_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_b").alias("doc")))
        .distinct()
    )
    # hint sits on the RIGHT side: left-semi builds right, and the
    # candidate-doc set is corpus-scale in the adversarial case (the
    # 53debaa no-GiB-broadcast doctrine applies to it too)
    shc = sh.join(
        cdocs.hint("shuffle_hash"), "doc", "left_semi"
    ).localCheckpoint(eager=False)
    a = shc.select(F.col("doc").alias("doc_a"), "shingle")
    b = shc.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        cand.hint("shuffle_hash")
        .join(a, "doc_a")
        .hint("shuffle_hash")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    scored = (
        inter.join(sa.hint("shuffle_hash"), "doc_a")
        .join(sb.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter",
            F.round(F.col("inter") / F.col("n_a"), 6).alias("cont_a"),
            F.round(F.col("inter") / F.col("n_b"), 6).alias("cont_b"),
        )
    )
    return scored.where(
        F.greatest(F.col("cont_a"), F.col("cont_b")) >= threshold
    )
