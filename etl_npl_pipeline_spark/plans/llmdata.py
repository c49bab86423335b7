"""LLM-training-data pipeline queries: text analysis, dedup,
similarity search — SURVEY §2.4 (L1-L11).

Oracle-backed queries mirror Spark's arithmetic exactly in DuckDB
(same split/ngram construction, same left-to-right float folds, md5
on both sides); hash-based ops (minhash/simhash/LSH) use Spark's
xxhash64 and are declared rows-only.

documents at sf0.01 contain planted near-duplicate pairs (3-gram
jaccard up to 0.99); embeddings (float32, cast to double on both
engines) have no planted dups, so similarity thresholds are set to
return small nonzero result sets.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_npl_pipeline_spark.operators import dedup as D
from etl_npl_pipeline_spark.operators import similarity as S
from etl_npl_pipeline_spark.operators import text as T
from etl_npl_pipeline_spark.session import scratch_dir, sf_scratch_dir
from etl_npl_pipeline_spark.sources.tables import load_table
from etl_npl_pipeline_spark.streaming.events import (
    drain_per_batch,
    staged_stream,
    stream_refresh_index,
)

_STOP_EN = "['the','a','of','and','to','in']"
_STOP_ES = "['el','la','de','que','y','en']"
_STOP_DE = "['der','die','und','das','nicht']"
_STOP_FR = "['le','la','et','les','des']"

# Mirror of operators.text.tokens(): Spark splits on the \s+ regexp,
# so the oracle must too — string_split(' ') agrees only on corpora
# with no runs of whitespace.
_TOKS = r"regexp_split_to_array(trim(text), '\s+')"

# RE2 spellings of operators.text's script character classes (the
# Spark side uses Java-regex literal ranges; \x{...} here keeps the
# construction independent while pinning the same codepoint sets).
_RE_TH = r"\x{0E00}-\x{0E7F}"
_RE_HAN = r"\x{4E00}-\x{9FFF}"
_RE_KANA = r"\x{3040}-\x{30FF}\x{FF66}-\x{FF9F}"  # + halfwidth katakana (r9)
_RE_KO = r"\x{AC00}-\x{D7AF}"
_RE_RU = r"\x{0400}-\x{04FF}"
_RE_AR = r"\x{0600}-\x{06FF}"
_RE_THCOMB = r"\x{0E31}\x{0E34}-\x{0E3A}\x{0E47}-\x{0E4E}"
_RE_UNSEG = _RE_TH + _RE_HAN + _RE_KANA
_RE_WS = r" \t\n\x0B\f\r"

# Column list every lang-id oracle selects: the four stopword scores
# plus the script-class char counts of lang_id's dominance stage.
_LANG_SCORES_SQL = f"""
           len(list_filter({_TOKS}, t -> list_contains({_STOP_EN}, t))) AS s_en,
           len(list_filter({_TOKS}, t -> list_contains({_STOP_ES}, t))) AS s_es,
           len(list_filter({_TOKS}, t -> list_contains({_STOP_DE}, t))) AS s_de,
           len(list_filter({_TOKS}, t -> list_contains({_STOP_FR}, t))) AS s_fr,
           len(regexp_replace(text, '[^{_RE_TH}]', '', 'g')) AS c_th,
           len(regexp_replace(text, '[^{_RE_HAN}{_RE_KANA}]', '', 'g')) AS c_cjk,
           len(regexp_replace(text, '[^{_RE_KANA}]', '', 'g')) AS c_kana,
           len(regexp_replace(text, '[^{_RE_KO}]', '', 'g')) AS c_ko,
           len(regexp_replace(text, '[^{_RE_RU}]', '', 'g')) AS c_ru,
           len(regexp_replace(text, '[^{_RE_AR}]', '', 'g')) AS c_ar,
           len(regexp_replace(text, '[{_RE_WS}]', '', 'g')) AS n_nonspace
""".strip()

# lang_id's two-stage decision as one SQL expression over the
# _LANG_SCORES_SQL columns: script-dominance argmax (sequential
# strict-greater order th, cjk, ko, ru, ar; cjk splits ja/zh by
# kana share) when the winning script covers >= half the
# non-whitespace chars, else the original stopword argmax.
_LANGID_CASE_SQL = """
    CASE WHEN greatest(c_th, c_cjk, c_ko, c_ru, c_ar) > 0
          AND greatest(c_th, c_cjk, c_ko, c_ru, c_ar) * 2 >= n_nonspace
         THEN CASE WHEN c_ar > greatest(c_th, c_cjk, c_ko, c_ru, 0) THEN 'ar'
                   WHEN c_ru > greatest(c_th, c_cjk, c_ko, 0) THEN 'ru'
                   WHEN c_ko > greatest(c_th, c_cjk, 0) THEN 'ko'
                   WHEN c_cjk > greatest(c_th, 0)
                     THEN (CASE WHEN c_kana * 5 >= c_cjk
                                THEN 'ja' ELSE 'zh' END)
                   ELSE 'th' END
         ELSE CASE WHEN s_fr > greatest(s_en, s_es, s_de, 0) THEN 'fr'
                   WHEN s_de > greatest(s_en, s_es, 0) THEN 'de'
                   WHEN s_es > greatest(s_en, 0) THEN 'es'
                   WHEN s_en > 0 THEN 'en'
                   ELSE 'und' END
    END
""".strip()

# token_count_mixed as one SQL expression (see operators/text.py):
# whitespace tokens of the text with unsegmented-script chars
# blanked, plus unsegmented chars minus Thai combining marks.
_TOK_MIXED_SQL = f"""
    (CASE WHEN trim(regexp_replace(text, '[{_RE_UNSEG}]', ' ', 'g')) = ''
          THEN 0
          ELSE len(regexp_split_to_array(
                 trim(regexp_replace(text, '[{_RE_UNSEG}]', ' ', 'g')),
                 '\\s+')) END
     + len(regexp_replace(text, '[^{_RE_UNSEG}]', '', 'g'))
     - len(regexp_replace(text, '[^{_RE_THCOMB}]', '', 'g')))
""".strip()


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Round-robin repartition for CPU-heavy map stages over SMALL
    scans (r9, VERDICT r8 #6 root cause): a documents file below
    spark.sql.files.maxPartitionBytes is ONE split, so a dozen
    regexp passes over every row run on one core while 31 idle —
    measured 1.7 s of the funnel's 2.2 s at sf0.1. The exchange
    carries the projected columns once (MBs here) and buys
    full-core parallelism. Gated on the scan's PLANNED partition
    count (driver-side plan walk, no job): corpus-scale inputs,
    which maxPartitionBytes already splits into >= cores partitions
    naturally, never pay a shuffle for this. Aggregation-order
    safety: every consumer reduces with exact-integer sums/counts,
    so round-robin placement cannot change results."""
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, par // 2):
        return df.repartition(par)
    return df


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # float32 on disk; double arithmetic must start from exactly
    # converted element values on both engines.
    return load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


# --- L8: language ID ----------------------------------------------

def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T.with_lang_id(
            _spread(spark, _docs(spark, sf_dir).select("text")),
            "text", out="predicted",
        )
        .groupBy("predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("predicted")
    )


TEXT_LANG_ID_SQL = f"""
WITH scores AS (
    SELECT {_LANG_SCORES_SQL}
    FROM documents
), step AS (
    SELECT {_LANGID_CASE_SQL} AS predicted
    FROM scores
)
SELECT predicted, COUNT(*) AS n FROM step GROUP BY 1 ORDER BY 1
"""


# --- L9: quality scoring ------------------------------------------

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = T.quality_features("text")
    docs = _docs(spark, sf_dir).select(
        "lang",
        feats["n_chars"].alias("n_chars"),
        feats["n_words"].alias("n_words"),
        feats["stop_hits"].alias("stop_hits"),
        feats["len_band"].alias("len_band"),
    )
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_sum"),
            F.sum("n_words").alias("words_sum"),
            (F.sum("stop_hits").cast("double") / F.sum("n_words")).alias(
                "stop_ratio"
            ),
            F.sum(F.when(F.col("len_band") == 1, 1).otherwise(0)).alias("n_ok_len"),
        )
        .orderBy("lang")
    )


TEXT_QUALITY_SQL = f"""
WITH feats AS (
    SELECT lang, len(text) AS n_chars, len({_TOKS}) AS n_words,
           len(list_filter({_TOKS}, t -> list_contains({_STOP_EN}, t))) AS stop_hits,
           CASE WHEN len({_TOKS}) < 20 THEN 0
                WHEN len({_TOKS}) <= 120 THEN 1 ELSE 2 END AS len_band
    FROM documents
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
       CAST(SUM(n_words) AS BIGINT) AS words_sum,
       CAST(SUM(stop_hits) AS DOUBLE) / CAST(SUM(n_words) AS BIGINT) AS stop_ratio,
       CAST(SUM(CASE WHEN len_band = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_len
FROM feats GROUP BY lang ORDER BY lang
"""


# --- L10: token counting ------------------------------------------

def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.groupBy("source")
        .agg(
            F.sum(T.token_count_ws("text")).alias("ws_tokens"),
            F.sum(T.token_count_regex("text")).alias("re_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("source")
    )


TEXT_TOKEN_COUNT_SQL = f"""
SELECT source,
       CAST(SUM(len({_TOKS})) AS BIGINT) AS ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS re_tokens,
       COUNT(*) AS n_docs
FROM documents GROUP BY source ORDER BY source
"""


# --- L11: fingerprinting ------------------------------------------

def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc polynomial rolling hash (first 100 docs — exact
    integer arithmetic, bit-identical across engines)."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    return docs.select(
        "doc_id", T.fingerprint("text").alias("fp")
    ).orderBy("doc_id")


TEXT_FINGERPRINT_SQL = """
-- NULL text -> NULL fp (engine contract: null in, null out). The
-- CASE guard matters because list_prepend(0, NULL) is [0] in
-- DuckDB, which would silently turn a null doc into fp=0.
SELECT doc_id,
       CASE WHEN text IS NULL THEN NULL ELSE
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, len(text)+1),
                   i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
           (acc, x) -> (acc * 31 + x) % 1000000007) END AS fp
FROM documents WHERE doc_id < 100 ORDER BY doc_id
"""


# --- L15: corpus-frequency commonness score -----------------------

def text_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM-style quality signal without the float-log
    hazard: score each document by the average corpus document-
    frequency of its distinct words (common-word docs score high,
    OOV-heavy docs low). Two passes: global DF table, then per-doc
    join+agg — integer arithmetic end to end, so the oracle matches
    exactly. (A real LM scorer swaps the DF table for token
    logprobs; the plan shape is identical.)

    The DF table is the full distinct vocabulary — billions of rows
    on a web corpus — so it carries NO broadcast hint: Catalyst
    auto-broadcasts while it fits under autoBroadcastJoinThreshold
    and falls back to a sort-merge join (AQE handles hot-token skew)
    when it doesn't. For a capped-and-broadcast model-table variant
    see text_lm_score (LM_TOP_K)."""
    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias("w")
    )
    df_table = words.groupBy("w").agg(F.count(F.lit(1)).alias("df_"))
    scored = (
        words.join(df_table, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("df_").alias("df_sum"),
            F.count(F.lit(1)).alias("n_distinct_words"),
        )
        .withColumn(
            "commonness",
            F.col("df_sum").cast("double") / F.col("n_distinct_words"),
        )
    )
    return scored.where(F.col("doc_id") < 100).orderBy("doc_id")


TEXT_COMMONNESS_SQL = f"""
WITH words AS (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS w
    FROM documents
), dfreq AS (
    SELECT w, COUNT(*) AS df_ FROM words GROUP BY w
)
SELECT doc_id, CAST(SUM(df_) AS BIGINT) AS df_sum,
       COUNT(*) AS n_distinct_words,
       CAST(SUM(df_) AS DOUBLE) / COUNT(*) AS commonness
FROM words JOIN dfreq USING (w)
WHERE doc_id < 100
GROUP BY doc_id ORDER BY doc_id
"""


# --- L16: deterministic dataset split -----------------------------

def data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split from md5(doc_id): stable
    across runs, engines, and partitionings (never rand() — a retry
    would reshuffle examples between splits). 80/10/10 by the first
    hex byte of the hash."""
    docs = _docs(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
        "int"
    )
    split = (
        F.when(bucket < 204, F.lit("train"))
        .when(bucket < 230, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
        .orderBy("split")
    )


DATA_SPLIT_SQL = """
WITH assigned AS (
    SELECT CASE
             WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) < 204 THEN 'train'
             WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) < 230 THEN 'val'
             ELSE 'test'
           END AS split,
           n_chars
    FROM documents
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
FROM assigned GROUP BY split ORDER BY split
"""


# --- L13: PII/noise scrubbing -------------------------------------

def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append synthetic URL/email noise to every 5th doc, scrub it
    back out, verify lengths return to the original distribution."""
    docs = _docs(spark, sf_dir)
    dirty = F.when(
        F.col("doc_id") % 5 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact bob@example.com or https://spam.example/x?y=1 now"),
        ),
    ).otherwise(F.col("text"))
    return (
        docs.select(
            "doc_id",
            F.length(dirty).alias("dirty_len"),
            F.length(T.scrub_text(dirty)).alias("clean_len"),
        )
        .where(F.col("doc_id") < 100)
        .orderBy("doc_id")
    )


TEXT_SCRUB_SQL = """
WITH dirty AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0
                THEN text || ' contact bob@example.com or https://spam.example/x?y=1 now'
                ELSE text END AS d
    FROM documents
)
SELECT doc_id, len(d) AS dirty_len,
       len(trim(regexp_replace(
           regexp_replace(
               regexp_replace(d, 'https?://\\S+', '', 'g'),
               '[a-z0-9._-]+@[a-z0-9.-]+', '', 'g'),
           '\\s+', ' ', 'g'))) AS clean_len
FROM dirty WHERE doc_id < 100 ORDER BY doc_id
"""


# --- L22: benchmark decontamination --------------------------------

DECON_N = 5  # n-gram width for contamination matching
# The stand-in benchmark is a FIXED-SIZE set (50 docs: every 10th id
# below 500), not a corpus fraction — eval suites do not grow with
# the training corpus, and a benchmark side that scaled with sf made
# the broadcast (and the sf-harness wall ratio) superlinear for no
# modeled reason (r7 verdict). All sf tiers ≥0.001 contain ids 0-499
# (replication shifts replica keys above 1M), so the benchmark is
# the same 50 documents at every measured scale.
DECON_BENCH_MAX_ID = 500


def _decon_sides(spark: SparkSession, sf_dir: str):
    """(benchmark grams, corpus grams) of the decontamination
    contract — shared by L22 (broadcast grams) and L44 (Bloom)."""
    from etl_npl_pipeline_spark.operators.dedup import word_shingles

    docs = _docs(spark, sf_dir)
    grams = docs.select(
        "doc_id", F.explode(word_shingles("text", DECON_N)).alias("g")
    )
    is_bench = (F.col("doc_id") % 10 == 0) & (
        F.col("doc_id") < DECON_BENCH_MAX_ID
    )
    return grams.where(is_bench).select("g").distinct(), grams.where(~is_bench)


def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus decontamination: flag corpus documents that
    share any word 5-gram with a held-out benchmark set (the fixed
    50-doc set above stands in for the benchmark).

    Plan shape at 100 TB: benchmark n-grams are a SMALL distinct
    CONSTANT-SIZE set (eval suites are tiny next to a corpus and do
    not grow with it) → broadcast to a map-side semi-join of the
    corpus's exploded n-grams; one aggregation per contaminated doc.
    No corpus self-join, no shuffle of the corpus text."""
    bench, corpus = _decon_sides(spark, sf_dir)
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_shared_ngrams"))
        .orderBy("doc_id")
    )


_SQL_GRAMS_5 = f"""
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, len({_TOKS}) - {DECON_N - 2}),
               i -> {" || ' ' || ".join(f"{_TOKS}[i+{j}]" if j else f"{_TOKS}[i]" for j in range(DECON_N))}
           ))) AS g
    FROM documents
"""

DEDUP_DECONTAMINATE_SQL = f"""
WITH grams AS ({_SQL_GRAMS_5}),
bench AS (SELECT DISTINCT g FROM grams
          WHERE doc_id % 10 = 0 AND doc_id < {DECON_BENCH_MAX_ID})
SELECT doc_id, COUNT(DISTINCT g) AS n_shared_ngrams
FROM grams JOIN bench USING (g)
WHERE NOT (doc_id % 10 = 0 AND doc_id < {DECON_BENCH_MAX_ID})
GROUP BY doc_id ORDER BY doc_id
"""


def dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L44: Bloom-filter decontamination — same contamination
    contract as L22 but the benchmark membership set ships as a
    128 KB bit array instead of broadcast gram strings (the scale
    path when the eval suite itself is large: m bits is constant in
    gram count; L22's broadcast grows with it).

    Two stages, candidates-then-verify: the Bloom probe (JVM-side
    xxhash64 positions + one Arrow bit-test) CANNOT produce false
    negatives, so exact-verifying only its survivors reproduces the
    exact answer — the oracle replays it as a plain join. False
    positives only cost verify work; at the default 2^20 bits / 4
    hashes and this benchmark size the FP rate is < 1e-4 (pinned
    by test_bloom_decontaminate.py)."""
    from etl_npl_pipeline_spark.operators.bloom import (
        bloom_maybe_member,
        build_bloom_bits,
    )

    bench, corpus = _decon_sides(spark, sf_dir)
    bits = build_bloom_bits(bench)
    survivors = bloom_maybe_member(corpus, bits).where(F.col("maybe"))
    return (
        survivors.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_shared_ngrams"))
        .orderBy("doc_id")
    )


# Exact semantics identical to L22 — the Bloom stage is a lossless
# (no-false-negative) pre-filter, so the oracle is the same replay.
DEDUP_BLOOM_SQL = DEDUP_DECONTAMINATE_SQL


# --- L23: intra-document repetition (Gopher-style quality rule) ----

def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring: fraction of a document's word trigrams
    that are duplicates (1 - distinct/total) — the MassiveText/
    Gopher repetition filter family. Map-only HOF arithmetic over
    the token array; integer counts divide to an exact double."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n3 = F.greatest(F.size(toks) - 2, F.lit(0))
    # non-distinct trigram count vs distinct count
    from etl_npl_pipeline_spark.operators.dedup import word_shingles

    nd = F.size(word_shingles("text", 3))  # distinct (array_distinct)
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "doc_id",
            n3.alias("n_trigrams"),
            nd.alias("n_distinct"),
            F.when(n3 > 0, 1.0 - nd.cast("double") / n3)
            .otherwise(F.lit(0.0))
            .alias("rep_ratio"),
        )
        .where(F.col("doc_id") < 200)
        .orderBy("doc_id")
    )


TEXT_REPETITION_SQL = f"""
WITH t AS (
    SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 200
), c AS (
    SELECT doc_id,
           greatest(len(toks) - 2, 0) AS n_trigrams,
           len(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           ))) AS n_distinct
    FROM t
)
SELECT doc_id, CAST(n_trigrams AS INT) AS n_trigrams,
       CAST(n_distinct AS INT) AS n_distinct,
       CASE WHEN n_trigrams > 0
            THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_trigrams
            ELSE 0.0 END AS rep_ratio
FROM c ORDER BY doc_id
"""


# --- L24: deterministic mixture sampling (domain mixing) -----------

def data_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction: downsample each language
    domain to a target rate (en 1.0, others 0.5 here) with the SAME
    md5-bucket trick as data_split — deterministic across runs,
    engines, partitionings, and retries (never rand()). Map-only:
    the rate gate is a codegen'd expression on the scan."""
    docs = _docs(spark, sf_dir)
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    rate = F.when(F.col("lang") == "en", F.lit(256)).otherwise(F.lit(128))
    kept = docs.where(bucket < rate)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
        .orderBy("lang")
    )


DATA_MIXTURE_SQL = """
WITH kept AS (
    SELECT lang, n_chars,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT)
               AS bucket
    FROM documents
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
FROM kept
WHERE bucket < CASE WHEN lang = 'en' THEN 256 ELSE 128 END
GROUP BY lang ORDER BY lang
"""


# --- L25: sequence packing (context-window budgeting) --------------

PACK_BUDGET = 512  # words per pack


def data_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign documents (in doc_id order,
    within each source partition) to fixed word-budget packs —
    the batch-construction step before tokenizer/packing at train
    time. pack = floor(cumulative_words_before_doc / budget):
    deterministic, one window per source partition (parallel across
    sources — a GLOBAL packing order would serialize the sort at
    100 TB, so the partition key IS the parallelism knob)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", F.size(F.split(F.trim("text"), r"\s+")).alias("w")
    )
    win = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = docs.withColumn(
        "pack",
        (F.coalesce(F.sum("w").over(win), F.lit(0)) / PACK_BUDGET).cast("long"),
    )
    return (
        packed.groupBy("source", "pack")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("w").alias("n_words"),
        )
        .orderBy("source", "pack")
    )


DATA_PACK_SQL = f"""
WITH w AS (
    SELECT doc_id, source, len(regexp_split_to_array(trim(text), '\\s+')) AS w
    FROM documents
), p AS (
    SELECT source,
           CAST(COALESCE(SUM(w) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) // {PACK_BUDGET} AS BIGINT) AS pack,
           w
    FROM w
)
SELECT source, pack, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS n_words
FROM p GROUP BY source, pack ORDER BY source, pack
"""


# --- L26: bigram-LM quality score (CCNet-style) --------------------

LM_TRAIN_MOD = 10      # docs with doc_id % 10 == 0 are the reference corpus
LM_TOP_K = 50_000      # model-size cap => broadcastable at any corpus scale
LM_MIN_COUNT = 2       # drop singleton bigrams from the model
LM_OOV_LL = -16.11809565095832  # ln(1e-7), same literal both engines


def _bigrams(toks: F.Column) -> F.Column:
    """Non-distinct word bigrams 'w1 w2', in order, [] when <2 tokens.

    arrays_zip of the array with its shift-by-one view: each zip
    argument evaluates ONCE per row. (An `element_at(toks, i+2)`
    inside the transform lambda would embed the split() in the
    lambda body, which Catalyst re-evaluates per element — the
    O(words²) trap word_shingles documents.) zip pads the shorter
    array with null; a null second field is a window off the end."""
    z = F.arrays_zip(
        toks, F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0)))
    )
    full = F.filter(z, lambda s: s["1"].isNotNull())
    return F.transform(full, lambda s: F.concat_ws(" ", s["0"], s["1"]))


def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring, the CCNet/Dolma filter family:
    train a bigram LM on a reference slice of the corpus, score every
    document by mean log-likelihood, flag low-probability text.

    Plan shape at 100 TB:
    - model training is two aggregations over the REFERENCE slice
      only (bigram counts, then first-word totals derived from them —
      no second pass over the text);
    - the model is capped to LM_TOP_K rows via orderBy+limit, which
      Spark executes as TakeOrderedAndProject (map-side partial
      top-K, no global sort materialization), so it broadcasts no
      matter how big the training slice is;
    - scoring is a broadcast left join + one aggregation — the
      corpus text shuffles zero times.
    """
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    grams = docs.select(
        "doc_id", F.explode(_bigrams(toks)).alias("bg")
    )

    from pyspark.sql import Window

    train = grams.where(F.col("doc_id") % LM_TRAIN_MOD == 0)
    c12 = train.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    # First-word MLE denominators follow from the bigram counts (sum
    # over w2) as a window over c12 — ONE evaluation of the counting
    # subtree (a groupBy+self-join formulation would scan and
    # aggregate the reference slice twice), and the denominators use
    # the FULL counts even though the broadcast model is capped below.
    w1_win = Window.partitionBy(F.substring_index("bg", " ", 1))
    model = (
        c12.withColumn("c1", F.sum("c12").over(w1_win))
        .where(F.col("c12") >= LM_MIN_COUNT)
        .select(
            "bg",
            F.log(F.col("c12").cast("double") / F.col("c1")).alias("ll"),
        )
        .orderBy(F.desc("ll"), F.asc("bg"))
        .limit(LM_TOP_K)
    )

    scored = (
        grams.where(F.col("doc_id") < 200)
        .join(F.broadcast(model), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("ll").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.coalesce(F.sum("ll"), F.lit(0.0)).alias("_s"),
        )
    )
    base = docs.where(F.col("doc_id") < 200).select("doc_id")
    return (
        base.join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            F.when(
                F.coalesce("n_bigrams", F.lit(0)) > 0,
                F.round(
                    (F.col("_s") + F.col("n_oov") * F.lit(LM_OOV_LL))
                    / F.col("n_bigrams"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("lm_score"),
        )
        .orderBy("doc_id")
    )


_SQL_BIGRAMS = f"""
    SELECT doc_id,
           unnest(list_transform(
               range(1, greatest(len({_TOKS}), 1)),
               i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1]
           )) AS bg
    FROM documents
"""

TEXT_LM_SCORE_SQL = f"""
WITH grams AS ({_SQL_BIGRAMS}),
c12 AS (
    SELECT bg, COUNT(*) AS c12 FROM grams
    WHERE doc_id % {LM_TRAIN_MOD} = 0 GROUP BY bg
),
c1 AS (
    SELECT split_part(bg, ' ', 1) AS w1, SUM(c12) AS c1
    FROM c12 GROUP BY w1
),
model AS (
    SELECT bg, ln(CAST(c12.c12 AS DOUBLE) / c1.c1) AS ll
    FROM c12 JOIN c1 ON split_part(c12.bg, ' ', 1) = c1.w1
    WHERE c12.c12 >= {LM_MIN_COUNT}
    ORDER BY ll DESC, bg ASC LIMIT {LM_TOP_K}
),
scored AS (
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CASE WHEN ll IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           COALESCE(SUM(ll), 0.0) AS s
    FROM grams LEFT JOIN model USING (bg)
    WHERE doc_id < 200
    GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(n_bigrams, 0) AS n_bigrams,
       COALESCE(n_oov, 0) AS n_oov,
       CASE WHEN COALESCE(n_bigrams, 0) > 0
            THEN ROUND((s + n_oov * ({LM_OOV_LL})) / n_bigrams, 6)
            ELSE 0.0 END AS lm_score
FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
LEFT JOIN scored USING (doc_id)
ORDER BY doc_id
"""


# --- L27: deterministic global training-order shuffle --------------

def data_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle of the training order: sort by
    md5(seed || doc_id) — reproducible across runs, engines,
    partitionings, and retries (the same never-rand() doctrine as
    data_split/data_mixture; change the seed prefix to get a fresh
    epoch order). Spark executes a global orderBy as sample-based
    RANGE partitioning, so the full shuffled write distributes; this
    query returns the first shard (orderBy+limit =
    TakeOrderedAndProject, map-side partial top-K — no global sort
    materializes for the preview). A row_number position column
    would force a single-partition window and is deliberately NOT
    part of the contract."""
    docs = _docs(spark, sf_dir)
    key = F.md5(F.concat(F.lit("epoch0-"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", key.alias("shuffle_key"))
        .orderBy("shuffle_key")
        .limit(100)
    )


DATA_SHUFFLE_SQL = """
SELECT doc_id, md5('epoch0-' || CAST(doc_id AS VARCHAR)) AS shuffle_key
FROM documents ORDER BY shuffle_key LIMIT 100
"""


# --- L7b: IVF ANN (rows-only: k-means model) -----------------------

def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search served from the persisted index (r7: no per-call
    quantizer training — see _ann_index). n_probe=8 of 12 cells:
    sf0.1 sweep (r3) measured recall@5 0.92 — the lowest probed
    fraction (0.67) that clears the 0.9 recall bar on these
    near-uniform synthetic embeddings (recall tracks probed fraction
    when vectors have no cluster structure; real embedding corpora
    cluster, so the same knob is conservative there)."""
    from etl_npl_pipeline_spark.operators.ann_index import ivf_query

    idx, _, queries = _served_batch(spark, sf_dir)
    return ivf_query(
        spark, idx, queries, k=ANN_K, n_probe=IVF_KNOBS["n_probe"],
        n_queries_hint=ANN_N_QUERIES,
    ).orderBy("query_id", "rank")


def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L43: product-quantization ANN (ADC + exact re-rank) — the
    memory-scale path: corpus vectors compress to m one-byte codes
    (16 bytes vs 256+ for the raw floats), search reconstructs
    approximate dots from per-query lookup tables, and the exact
    pass re-ranks only the ADC top k×rerank_factor. Rows-only
    contract (k-means code internals are engine-specific); recall@5
    vs ann_topk is published by bench alongside lsh/ivf. r7: serves
    from the persisted code table + codebooks (_ann_index) — no
    per-call codebook training or corpus re-encode."""
    from etl_npl_pipeline_spark.operators.ann_index import pq_query

    idx, _, queries = _served_batch(spark, sf_dir)
    return pq_query(
        spark, idx, queries, k=ANN_K,
        rerank_factor=PQ_KNOBS["rerank_factor"],
        n_queries_hint=ANN_N_QUERIES,
    ).orderBy("query_id", "rank")


# --- L1: exact dedup ----------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the corpus plus planted copies (docs with
    doc_id % 7 == 0 duplicated at id+1_000_000): emits each
    duplicate group with its keeper."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    base = docs.unionByName(planted)
    return (
        D.exact_groups(base, "text", "doc_id")
        .where(F.col("n_dups") > 1)
        .orderBy("keep_id")
    )


DEDUP_EXACT_SQL = """
WITH base AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
), hashed AS (
    SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
    FROM base
)
SELECT h, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM hashed GROUP BY h HAVING COUNT(*) > 1
ORDER BY keep_id
"""


# --- L4: n-gram Jaccard near-dup ----------------------------------

JACCARD_THRESHOLD = 0.5
MAX_SHINGLE_FREQ = 100

_SQL_SHINGLES = f"""
    SELECT doc_id AS doc,
           unnest(list_distinct(list_transform(
               range(1, len({_TOKS}) - 1),
               i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
           ))) AS shingle
    FROM documents
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return D.jaccard_pairs(
        docs,
        "text",
        "doc_id",
        n=3,
        threshold=JACCARD_THRESHOLD,
        max_shingle_freq=MAX_SHINGLE_FREQ,
    ).orderBy("doc_a", "doc_b")


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH sh_all AS ({_SQL_SHINGLES}),
freq AS (
    SELECT shingle, COUNT(*) AS df_ FROM sh_all GROUP BY shingle
),
sh AS (
    SELECT doc, sh_all.shingle FROM sh_all
    JOIN freq ON sh_all.shingle = freq.shingle
    WHERE df_ <= {MAX_SHINGLE_FREQ}
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc
JOIN sizes sb ON doc_b = sb.doc
WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# --- L2: MinHash + LSH ---------------------------------------------

# Contract verify threshold, chosen so the LSH stage's recall is
# deterministic in practice and the query earns a full equality
# oracle (the r3 row was `no_oracle`): with 16 bands x 4 rows a pair
# at jaccard j is missed by every band with probability (1-j^4)^16 —
# <= 2.2e-4 at j=0.8 and <= 3.9e-8 at j=0.9 (the corpus' true pairs
# all sit >= 0.9). Exact-jaccard verification already guarantees
# zero false positives, so output == {all pairs >= threshold} up to
# that vanishing miss probability. Production near-dup sweeps keep
# the 0.5 threshold via jaccard_pairs/minhash directly.
MINHASH_CONTRACT_THRESHOLD = 0.8


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-accelerated near-dup: banded minhash candidates, verified
    with exact jaccard ≥ threshold. The LSH join replaces the full
    inverted-index product — the scale path for 100 TB corpora.

    Oracle = plain (uncapped) jaccard threshold pairs: the verify
    stage computes jaccard on the full shingle sets, so the only
    LSH-dependent part of the output is recall, which the banding
    makes effectively 1 at this threshold (math above)."""
    docs = _docs(spark, sf_dir)
    sigs = D.minhash_signatures(docs, "text", "doc_id", n=3)
    cands = D.minhash_candidates(sigs)
    return D.verify_jaccard_pairs(
        docs, cands, "text", "doc_id", n=3,
        threshold=MINHASH_CONTRACT_THRESHOLD,
    ).orderBy("doc_a", "doc_b")


DEDUP_MINHASH_SQL = f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE)
           AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc
JOIN sizes sb ON doc_b = sb.doc
WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE)
      >= {MINHASH_CONTRACT_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# --- L3: SimHash (full equality oracle as of r8) -------------------

SIMHASH_MAX_HAMMING = 7
SIMHASH_VERIFY_THRESHOLD = 0.9


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with exact verification (r9, VERDICT r8 #1):
    64-bit signatures over portable md5 token hashes, Manku-style
    permuted-prefix blocking (112 tables of 20-bit prefixes —
    COMPLETE recall for hamming ≤ 7 by pigeonhole, see
    dedup._SIMHASH_TABLES), then exact multiset-jaccard ≥ 0.9 over
    each candidate pair.

    The oracle below is GROUND TRUTH, not a blocking replay: DuckDB
    brute-forces hamming over all doc pairs and applies the same
    verify arithmetic. Equality therefore asserts the blocking's
    completeness claim itself — a dropped bucket or a missed prefix
    table would surface as a row mismatch, which is exactly the
    silent-recall-decay failure mode r8 measured for the old 16-bit
    masked keys at sf1."""
    docs = _docs(spark, sf_dir)
    sigs = D.simhash_signatures(docs, "text", "doc_id")
    cands = D.simhash_candidates(sigs, max_hamming=SIMHASH_MAX_HAMMING)
    return D.simhash_verified(
        docs, cands, "text", "doc_id", threshold=SIMHASH_VERIFY_THRESHOLD
    ).orderBy("doc_a", "doc_b")


# DuckDB ground-truth for the SimHash pipeline. Stage by stage:
# tokens (multiset, matching Spark's split), md5 hi/lo 32-bit
# halves, per-bit signed sums over 64 positions, sign-fold into four
# 16-bit chunks, BRUTE-FORCE all-pairs hamming from per-chunk XOR
# popcounts (no blocking — completeness is what's under test), exact
# multiset-jaccard verify over token counts.
DEDUP_SIMHASH_SQL = f"""
WITH toks AS (
    SELECT doc_id AS doc, unnest({_TOKS}) AS tok FROM documents
    WHERE text IS NOT NULL
),
hb AS (
    SELECT doc,
           ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
           ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
    FROM toks
),
bitsums AS (
    SELECT doc, j,
           2 * SUM(CASE WHEN j < 32 THEN (lo >> j) & 1
                        ELSE (hi >> (j - 32)) & 1 END) - COUNT(*) AS s
    FROM hb, range(0, 64) t(j)
    GROUP BY doc, j
),
sigchunks_raw AS (
    SELECT doc, j // 16 AS chunk,
           SUM(CASE WHEN s > 0 THEN 1::BIGINT << (j % 16) ELSE 0 END) AS cv
    FROM bitsums GROUP BY doc, j // 16
),
-- docs with no token rows (NULL text) fold to signature 0, same as
-- the Spark UDF's empty-array branch
sigchunks AS (
    SELECT d.doc_id AS doc, c.chunk, COALESCE(s.cv, 0) AS cv
    FROM documents d
    CROSS JOIN range(0, 4) c(chunk)
    LEFT JOIN sigchunks_raw s ON s.doc = d.doc_id AND s.chunk = c.chunk
),
hammed AS (
    SELECT sa.doc AS doc_a, sb.doc AS doc_b,
           CAST(SUM(bit_count(xor(sa.cv, sb.cv))) AS INT) AS hamming
    FROM sigchunks sa
    JOIN sigchunks sb ON sb.chunk = sa.chunk AND sa.doc < sb.doc
    GROUP BY 1, 2
    HAVING SUM(bit_count(xor(sa.cv, sb.cv))) <= {SIMHASH_MAX_HAMMING}
),
cnts AS (
    SELECT doc, tok, COUNT(*) AS c FROM toks GROUP BY doc, tok
),
wsz AS (
    SELECT doc, COUNT(*) AS w FROM toks GROUP BY doc
),
inter AS (
    SELECT doc_a, doc_b, hamming, SUM(LEAST(ca.c, cb.c)) AS im
    FROM hammed
    JOIN cnts ca ON ca.doc = doc_a
    JOIN cnts cb ON cb.doc = doc_b AND cb.tok = ca.tok
    GROUP BY doc_a, doc_b, hamming
)
SELECT doc_a, doc_b, hamming,
       ROUND(CAST(im AS DOUBLE)
             / CAST(wa.w + wb.w - im AS DOUBLE), 6) AS jaccard
FROM inter
JOIN wsz wa ON wa.doc = doc_a
JOIN wsz wb ON wb.doc = doc_b
WHERE CAST(im AS DOUBLE) / CAST(wa.w + wb.w - im AS DOUBLE)
      >= {SIMHASH_VERIFY_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# --- L5: embedding cosine near-dup --------------------------------

EMB_THRESHOLD = 0.4

# Mirrors Spark's l2_normalize + dot exactly: square-fold
# left-to-right, sqrt, per-element division, then product-fold.
_SQL_NORMED = """
    SELECT vec_id, label,
           list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                       list_transform(embedding::DOUBLE[], y -> y * y)),
                   (acc, v) -> acc + v))) AS nv
    FROM embeddings
"""

_SQL_NDOT = """list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(range(1, 65), i -> {a}[i] * {b}[i])),
        (acc, x) -> acc + x)"""


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise cosine, vectorized per block (dim-ordered
    numpy accumulation — bit-identical to the pair-join HOF fold
    and the DuckDB left-to-right list_reduce, ~3x faster)."""
    emb = _emb(spark, sf_dir)
    return S.embedding_near_dups_blocked(
        emb, block_col="label", threshold=EMB_THRESHOLD
    ).orderBy("id_a", "id_b")


DEDUP_EMBEDDING_SQL = f"""
WITH nrm AS ({_SQL_NORMED}),
-- the hub-block quarantine IS the contract (operators/similarity
-- DEFAULT_MAX_BLOCK): a block past the cap would degenerate toward
-- all-pairs, so it emits zero pairs and routes to minhash/LSH.
-- The oracle replays the cap; found at sf1, where ~5k-vector
-- label blocks crossed it while every smaller sf stayed under
ok_blocks AS (
    SELECT label FROM nrm GROUP BY label
    HAVING COUNT(*) <= {S.DEFAULT_MAX_BLOCK}
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_SQL_NDOT.format(a="a.nv", b="b.nv")} AS cos_sim
FROM nrm a
JOIN nrm b ON a.label = b.label AND a.vec_id < b.vec_id
JOIN ok_blocks ob ON a.label = ob.label
WHERE {_SQL_NDOT.format(a="a.nv", b="b.nv")} >= {EMB_THRESHOLD}
ORDER BY id_a, id_b
"""


# --- L6: brute-force cosine top-k ---------------------------------

ANN_K = 5
ANN_N_QUERIES = 20

# Approximate-index knobs, importable by bench so the published
# recall numbers always carry the settings that produced them.
# r4 sweep at sf0.1 (grid in lsh_sweep.json, republished in
# bench_detail.json under "ann_lsh_sweep"): (n_tables in
# {6,8,10,12}) x (probe_bits in {0,1}) at 6 planes. Hamming-1
# multiprobe dominates its cost everywhere (0-probe tops out at
# 0.57 recall even with 12 tables); 10x1 measured recall@5 = 0.94
# at 1.67 s vs 12x1's 0.97 at 1.98 s — chosen point = cheapest
# with recall >= 0.93. Candidate-join
# cost scales with n_tables x bucket size (~corpus/2^planes), so
# the two dropped tables are a real 100-TB saving, not just bench
# time.
LSH_KNOBS = {"n_planes": 6, "n_tables": 10, "probe_bits": 1}
# PQ: 16 subspaces x 32 codes = 16 bytes/vector (vs 256B float32 at
# dim 64); ADC picks k x rerank_factor candidates, exact pass
# re-ranks. r4 sweep at sf0.1 (5k vectors): 16x16 codes rf=8 -> 0.74
# recall@5, rf=24 -> 0.95; 16x32 codes rf=8 -> 0.91, rf=16 -> 1.00
# at identical wall-clock — code resolution was the binding
# constraint, and rerank_factor costs only |Q| x k' exact dots.
PQ_KNOBS = {"m_subspaces": 16, "k_codes": 32, "rerank_factor": 16}
# The synthetic embeddings are uniform on the sphere (no cluster
# structure), so IVF recall tracks the probed fraction; 8/12 cells
# measured recall@5 = 0.92 at sf0.1. On real clustered corpora the
# same knobs probe a far smaller fraction for the same recall.
IVF_KNOBS = {"n_clusters": 12, "n_probe": 8}


def _ann_index(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame | None = None,
    key_suffix: str = "",
    n_clusters: int = IVF_KNOBS["n_clusters"],
) -> str:
    """Build-once handle on the persisted ANN index for this sf dir
    (operators/ann_index.py): first caller this process pays the
    train+materialize cost; every later ann_* invocation — bench
    steady-state, the driver's oracle sweep — loads and searches.
    That is the production lifecycle at 100 TB: the index is an
    artifact, not a per-query side effect. A derived ``corpus`` (base
    slice, planted grid) is named in the index key by ``key_suffix``."""
    import os as _os

    from etl_npl_pipeline_spark.operators.ann_index import build_ann_index

    return build_ann_index(
        spark,
        _emb(spark, sf_dir) if corpus is None else corpus,
        _os.path.realpath(sf_dir.rstrip("/")) + key_suffix,
        n_clusters=n_clusters,
        pq_m=PQ_KNOBS["m_subspaces"],
        pq_k=PQ_KNOBS["k_codes"],
        lsh_planes=LSH_KNOBS["n_planes"],
        lsh_tables=LSH_KNOBS["n_tables"],
    )


def _served_batch(
    spark: SparkSession, sf_dir: str, n_queries: int = ANN_N_QUERIES
) -> tuple[str, DataFrame, DataFrame]:
    """(default index dir, embeddings, query batch): the serving
    fixture every ann_* query runs — the first ``n_queries`` vec_ids
    searched against the index of the whole table."""
    emb = _emb(spark, sf_dir)
    return _ann_index(spark, sf_dir), emb, emb.where(F.col("vec_id") < n_queries)


def ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L59: the index-build surface itself as a contract query —
    per-artifact row counts of the persisted ANN index. Every count
    is a pure function of |embeddings| and the published knobs, so
    the DuckDB oracle can assert the build materialized exactly the
    postings/codes/cells it should (lsh_buckets = n x n_tables,
    pq_codes = vectors = n, centroids/codebooks = knob-sized)."""
    from etl_npl_pipeline_spark.operators.ann_index import index_stats

    return index_stats(spark, _ann_index(spark, sf_dir))


def ann_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L60 (r8): incremental index refresh — build the ANN index on
    the BASE slice of the corpus (vec_id % 5 != 4), then append the
    remaining 20% with ``refresh_ann_index`` (frozen quantizers,
    O(|batch|) work, exactly-once by batch key). Output: per-artifact
    total and appended row counts plus the manifest version — every
    number a pure function of |embeddings| and the knobs, so the
    DuckDB oracle asserts the append landed exactly once (n_appended
    doubles if refresh re-runs; version must be exactly 2).

    Result-quality equivalence to a from-scratch rebuild is pinned
    where it is provable: tests/test_ann_index.py shows full-probe
    IVF over the refreshed index equals brute force over the union
    corpus, and bounds the appended batch's quantization drift."""
    from etl_npl_pipeline_spark.operators.ann_index import (
        _read_artifact,
        read_manifest,
        refresh_ann_index,
    )

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") % 5 != 4)
    batch = emb.where(F.col("vec_id") % 5 == 4)
    idx = _ann_index(spark, sf_dir, base, "#base-mod5")
    refresh_ann_index(spark, idx, batch, batch_key="mod5==4")
    version = read_manifest(idx)["version"]
    parts = []
    for name in ("lsh_buckets", "pq_codes", "vectors"):
        # through the manifest segments: r9's atomic refresh stages
        # appends in <name>_vN dirs, so a bare base-dir read MISSES
        # every appended row (caught by the r9 adversarial sweep —
        # warehouse-cached pre-segment indexes masked it at the
        # driver scales)
        df = _read_artifact(spark, idx, name)
        # GLOBAL agg (not groupBy on the literal): a 0-row artifact
        # must still emit its (artifact, 0, 0) row — a grouped agg
        # over zero rows emits zero groups (adversarial empty_tables)
        parts.append(
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("neighbor_id") % 5 == 4, 1).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("n_appended"),
            ).select(F.lit(name).alias("artifact"), "n_rows", "n_appended")
        )
    return (
        reduce(DataFrame.unionByName, parts)
        .withColumn("version", F.lit(version))
        .orderBy("artifact")
    )


ANN_INDEX_REFRESH_SQL = f"""
WITH c AS (
    SELECT COUNT(*) AS n,
           COALESCE(SUM(CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END), 0) AS a
    FROM embeddings
)
SELECT 'lsh_buckets' AS artifact,
       CAST(n * {LSH_KNOBS["n_tables"]} AS BIGINT) AS n_rows,
       CAST(a * {LSH_KNOBS["n_tables"]} AS BIGINT) AS n_appended,
       2 AS version
FROM c
UNION ALL
SELECT 'pq_codes', CAST(n AS BIGINT), CAST(a AS BIGINT), 2 FROM c
UNION ALL
SELECT 'vectors', CAST(n AS BIGINT), CAST(a AS BIGINT), 2 FROM c
ORDER BY artifact
"""


def ann_compacted_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L64 (r10, VERDICT r9 #1): ANN index segment COMPACTION.
    Lifecycle under test: build the index on the 75% base slice
    (vec_id % 4 != 3), append the rest via refresh (one extra
    segment per corpus-sized artifact), run a FULL-PROBE IVF search
    (exact by construction — every cell probed, scoring exact), then
    ``compact_ann_index`` (fold the segments into one fresh snapshot
    per artifact, mor_compact-style), and run the SAME search again
    from the compacted index.

    Output = the post-compaction top-k, with a ``pre_match`` flag
    row-joining the pre-compaction result (compaction must be
    bit-identical — the oracle pins every flag TRUE), plus the
    post-compaction segment count (must be 1) and manifest version
    (build=1, refresh=2, compact=3). The DuckDB oracle recomputes
    the search as exact brute-force cosine top-k over the full
    embeddings table — full probe makes the index-served answer
    exactly that.

    The pre-compaction result is driver-materialized (k x |Q| rows,
    a result set, not corpus data) BEFORE compaction because the
    commit deletes the folded segment dirs a lazy pre-plan would
    still scan."""
    from etl_npl_pipeline_spark.operators.ann_index import (
        compact_ann_index,
        ivf_query,
        read_manifest,
        refresh_ann_index,
    )

    emb = _emb(spark, sf_dir)
    base = emb.where(F.col("vec_id") % 4 != 3)
    batch = emb.where(F.col("vec_id") % 4 == 3)
    idx = _ann_index(spark, sf_dir, base, "#base-mod4")
    refresh_ann_index(spark, idx, batch, batch_key="mod4==3")
    queries = emb.where(F.col("vec_id") < ANN_N_QUERIES)
    full_probe = IVF_KNOBS["n_clusters"]
    pre_schema = "query_id long, rank int, neighbor_id long, cos_sim double"
    from etl_npl_pipeline_spark.functions.localrel import small_report_df

    pre = small_report_df(
        spark,
        [
            tuple(r)
            for r in ivf_query(
                spark, idx, queries, k=ANN_K, n_probe=full_probe,
                n_queries_hint=ANN_N_QUERIES,
            ).collect()
        ],
        pre_schema,
    )
    compact_ann_index(spark, idx)
    man = read_manifest(idx)
    n_segments = max(
        len(man["segments"][n])
        for n in ("vectors", "pq_codes", "lsh_buckets")
    )
    post = ivf_query(
        spark, idx, queries, k=ANN_K, n_probe=full_probe,
        n_queries_hint=ANN_N_QUERIES,
    )
    pre_r = pre.select(
        "query_id",
        "rank",
        F.col("neighbor_id").alias("pre_neighbor_id"),
        F.col("cos_sim").alias("pre_cos_sim"),
    )
    return (
        post.join(pre_r, ["query_id", "rank"], "left")
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            "cos_sim",
            (
                (F.col("pre_neighbor_id") == F.col("neighbor_id"))
                & (F.col("pre_cos_sim") == F.col("cos_sim"))
            ).alias("pre_match"),
            F.lit(n_segments).alias("n_segments"),
            F.lit(man["version"]).alias("version"),
        )
        .orderBy("query_id", "rank")
    )


ANN_COMPACTED_QUERY_SQL = f"""
WITH nrm AS ({_SQL_NORMED}),
sims AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_SQL_NDOT.format(a="q.nv", b="c.nv")} AS cos_sim
    FROM nrm q JOIN nrm c ON q.vec_id != c.vec_id
    WHERE q.vec_id < {ANN_N_QUERIES}
), ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id ASC
           ) AS rank
    FROM sims
)
SELECT query_id, rank, neighbor_id, cos_sim,
       TRUE AS pre_match, 1 AS n_segments, 3 AS version
FROM ranked WHERE rank <= {ANN_K} ORDER BY query_id, rank
"""


# centroid/codebook counts are knob constants only for a NON-empty
# corpus: an empty corpus has no dim to train on, so the index is
# empty end to end (r9 adversarial empty_tables contract)
ANN_INDEX_BUILD_SQL = f"""
WITH c AS (SELECT COUNT(*) AS n FROM embeddings)
SELECT 'ivf_centroids' AS artifact,
       CAST(CASE WHEN n = 0 THEN 0
                 ELSE {IVF_KNOBS["n_clusters"]} END AS BIGINT) AS n_rows
FROM c
UNION ALL
SELECT 'lsh_buckets', CAST(n * {LSH_KNOBS["n_tables"]} AS BIGINT) FROM c
UNION ALL
SELECT 'pq_codebooks',
       CAST(CASE WHEN n = 0 THEN 0
                 ELSE {PQ_KNOBS["m_subspaces"] * PQ_KNOBS["k_codes"]} END
            AS BIGINT)
FROM c
UNION ALL
SELECT 'pq_codes', CAST(n AS BIGINT) FROM c
UNION ALL
SELECT 'vectors', CAST(n AS BIGINT) FROM c
ORDER BY artifact
"""


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < ANN_N_QUERIES)
    # the id filter bounds the batch at ANN_N_QUERIES — skip the
    # query-side count job (upper-bound hints are grid-safe)
    return S.brute_force_topk(
        queries, emb, k=ANN_K, n_q_hint=ANN_N_QUERIES
    ).orderBy("query_id", "rank")


ANN_TOPK_SQL = f"""
WITH nrm AS ({_SQL_NORMED}),
sims AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_SQL_NDOT.format(a="q.nv", b="c.nv")} AS cos_sim
    FROM nrm q JOIN nrm c ON q.vec_id != c.vec_id
    WHERE q.vec_id < {ANN_N_QUERIES}
), ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id ASC
           ) AS rank
    FROM sims
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
WHERE rank <= {ANN_K} ORDER BY query_id, rank
"""


# --- L67b/L68: random-projection compressed exact search -----------

RP_DIM = 16


def _rp_signs() -> list[list[float]]:
    """Deterministic Johnson-Lindenstrauss sign matrix (Achlioptas
    2003, "Database-friendly random projections"): R[d][j] =
    ±1/sqrt(RP_DIM), sign from the first hex digit of
    md5("rp_{d}_{j}") — reproducible from the spec alone on any
    system (no RNG state to ship), which is what lets the DuckDB
    oracle embed the SAME matrix as literals. 1/sqrt(16) = 0.25 is
    exactly representable, so the scaling is FP-exact on both
    sides."""
    import hashlib

    return [
        [
            0.25
            if int(hashlib.md5(f"rp_{d}_{j}".encode()).hexdigest()[0], 16) < 8
            else -0.25
            for j in range(RP_DIM)
        ]
        for d in range(64)
    ]


def _rp_project(emb_col: str = "embedding") -> F.Column:
    """Project a 64-d float vector to RP_DIM doubles ENTIRELY in
    JVM codegen — 16 left-associated multiply-add chains over the
    sign literals, no Python worker in the hot path. Addition order
    is ascending source dim, matching the generated SQL's
    left-assoc `+` chain term for term, so the projected values are
    bit-identical across engines.

    Built as ONE parsed F.expr string (the r9 plan-cost doctrine the
    first cut violated): 1,024 Column ops through py4j + analysis
    over the duplicated subtrees cost 6.4s of DRIVER time PER PLAN —
    bench caught ann_rp_topk at 8.3s steady where the 64-d exact
    search runs 0.7s. One parse of the same arithmetic: ~10 ms.
    The `D` suffix keeps every literal a DOUBLE (Spark parses bare
    decimal literals as DECIMAL, which would change the fold)."""
    signs = _rp_signs()
    comps = ", ".join(
        " + ".join(
            f"CAST(element_at({emb_col}, {d + 1}) AS DOUBLE)"
            f" * {signs[d][j]!r}D"
            for d in range(64)
        )
        for j in range(RP_DIM)
    )
    return F.expr(f"array({comps})")


def ann_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L68 (r11, contract re-scoped r12): EXACT top-k search in a
    compressed random-projection space — the JL counterpart to PQ's
    codes: 64 float32 dims become 16 doubles (4x less score compute
    and candidate I/O), search stays the plain chunked brute force.

    This is a FUNNEL STAGE, not a standalone search operator (r11
    VERDICT #3): on this near-isotropic synthetic corpus a 16-d
    projection's top-5 ≈ a random draw (measured recall@5 0.04 — a
    sweep over 16-48 dims x 50-1600 overfetch showed recall ~
    candidate fraction at every setting, the "no geometry to prune"
    worst case), so publishing its top-5 recall as a search-quality
    headline was misleading. The number that describes the stage's
    real job — does the exact top-5 survive inside the top-800
    candidate overfetch ann_rp_rerank reranks? — is published by
    bench.py as rp_candidate_recall (0.90 here). The oracle-backed
    contract is unchanged: the query computes exactly the top-k of
    the hash-seeded projected space, replayable from literals."""
    emb = _emb(spark, sf_dir)
    proj = emb.select(
        "vec_id", _rp_project("embedding").alias("embedding")
    )
    queries = proj.where(F.col("vec_id") < ANN_N_QUERIES)
    return S.brute_force_topk(
        queries, proj, k=ANN_K, n_q_hint=ANN_N_QUERIES
    ).orderBy("query_id", "rank")


def _rp_sql() -> str:
    signs = _rp_signs()
    comps = ", ".join(
        " + ".join(
            f"CAST(embedding[{d + 1}] AS DOUBLE) * ({signs[d][j]})"
            for d in range(64)
        )
        for j in range(RP_DIM)
    )
    ndot16 = """list_reduce(list_prepend(CAST(0 AS DOUBLE),
        list_transform(range(1, {n}), i -> {a}[i] * {b}[i])),
        (acc, x) -> acc + x)"""
    return f"""
WITH proj AS (
    SELECT vec_id, [{comps}] AS pv FROM embeddings
), nrm AS (
    SELECT vec_id,
           list_transform(pv,
               x -> x / sqrt(list_reduce(
                   list_prepend(CAST(0 AS DOUBLE),
                       list_transform(pv, y -> y * y)),
                   (acc, v) -> acc + v))) AS nv
    FROM proj
), sims AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {ndot16.format(n=RP_DIM + 1, a="q.nv", b="c.nv")} AS cos_sim
    FROM nrm q JOIN nrm c ON q.vec_id != c.vec_id
    WHERE q.vec_id < {ANN_N_QUERIES}
), ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id ASC
           ) AS rank
    FROM sims
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
WHERE rank <= {ANN_K} ORDER BY query_id, rank
"""


ANN_RP_TOPK_SQL = _rp_sql()


# --- L7: LSH-bucketed ANN (rows-only) ------------------------------

def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table multiprobe LSH (12 tables x 6 planes, Hamming-1
    probes): measured recall@5 ≈ 0.9 vs ann_topk on this corpus,
    where the old single 8-plane table scored 0.02 — wide-angle
    neighbors need the union over tables. r7: the corpus bucket
    postings serve from the persisted index (_ann_index); only the
    20 query signatures are computed per call."""
    from etl_npl_pipeline_spark.operators.ann_index import lsh_query

    idx, _, queries = _served_batch(spark, sf_dir)
    return lsh_query(
        spark, idx, queries, k=ANN_K, **LSH_KNOBS
    ).orderBy("query_id", "rank")


# --- L12: duplicate-cluster formation (connected components) -------

def _dup_clusters(docs: DataFrame) -> DataFrame:
    """Near-duplicate clusters of ``docs``: the 3-gram jaccard pairs
    (same edge set as dedup_ngram_jaccard) grouped by connected
    components (operators/components.py), ``(node, component=min
    doc id in cluster)``. Docs without a near-duplicate are absent."""
    from etl_npl_pipeline_spark.operators.components import connected_components

    pairs = D.jaccard_pairs(
        docs, "text", "doc_id", n=3,
        threshold=JACCARD_THRESHOLD, max_shingle_freq=MAX_SHINGLE_FREQ,
    ).select("doc_a", "doc_b")
    return connected_components(pairs, "doc_a", "doc_b")


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group the near-duplicate PAIRS into duplicate CLUSTERS via the
    large-star/small-star connected-components loop — the
    distributed stand-in for single-node union-find. Output:
    (doc, component=min doc id in cluster). Also served as
    dedup_components_star, which shares this oracle."""
    return _dup_clusters(_docs(spark, sf_dir)).orderBy("node")


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE sh_all AS ({_SQL_SHINGLES}),
freq AS (
    SELECT shingle, COUNT(*) AS df_ FROM sh_all GROUP BY shingle
),
sh AS (
    SELECT doc, sh_all.shingle FROM sh_all
    JOIN freq ON sh_all.shingle = freq.shingle
    WHERE df_ <= {MAX_SHINGLE_FREQ}
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON doc_a = sa.doc
    JOIN sizes sb ON doc_b = sb.doc
    WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE)
          >= {JACCARD_THRESHOLD}
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
reach(node, label) AS (
    SELECT DISTINCT u, u FROM edges
    UNION
    SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node
)
SELECT node, MIN(label) AS component FROM reach GROUP BY node ORDER BY node
"""


# --- L13: chunk-granularity dedup (paragraph analog) ---------------

CHUNK_WORDS = 20


def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup: split each doc into fixed 20-word chunks
    (the synthetic corpus has no newlines, so word windows stand in
    for paragraphs) and score each doc by the fraction of its chunks
    that also occur in OTHER docs.

    The chunking is map-side array slicing (no per-word explode +
    re-group shuffle); the only shuffles are the chunk-frequency agg
    and the per-doc rollup. At 100 TB the chunk join key would be
    xxhash64(chunk) instead of the raw string — the string form is
    kept here so the DuckDB oracle can reproduce it exactly.
    """
    docs = _docs(spark, sf_dir)
    arr = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.ceil(F.size(arr) / CHUNK_WORDS).cast("int")
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.concat_ws(
                    " ", F.slice(arr, i * CHUNK_WORDS + 1, CHUNK_WORDS)
                ),
            )
        ).alias("chunk"),
    )
    # Single-pass frequency (see dedup_spans): per-(chunk, doc)
    # occurrence counts + a COUNT(*) window over chunk replace the
    # frequency self-join, so the chunking subtree executes once.
    from pyspark.sql import Window

    occ = chunks.groupBy("chunk", "doc_id").agg(
        F.count(F.lit(1)).alias("occ")
    )
    nd = F.count(F.lit(1)).over(Window.partitionBy("chunk"))
    return (
        occ.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n_chunks"),
            F.sum(F.when(F.col("nd") > 1, F.col("occ")).otherwise(0)).alias(
                "dup_chunks"
            ),
        )
        .withColumn(
            "dup_ratio",
            F.col("dup_chunks").cast("double") / F.col("n_chunks"),
        )
        .orderBy("doc_id")
    )


DEDUP_CHUNKS_SQL = f"""
WITH base AS (
    SELECT doc_id, {_TOKS} AS arr FROM documents
),
chunks AS (
    SELECT doc_id,
           array_to_string(
               list_slice(arr, c * {CHUNK_WORDS} + 1, (c + 1) * {CHUNK_WORDS}),
               ' '
           ) AS chunk
    FROM base,
         UNNEST(range(0, CAST(CEIL(len(arr) / {CHUNK_WORDS}.0) AS INT))) AS t(c)
),
cf AS (SELECT chunk, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY 1)
SELECT doc_id, COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
           AS dup_ratio
FROM chunks JOIN cf USING (chunk)
GROUP BY 1 ORDER BY 1
"""


# --- L19: dedup application (keep one doc per cluster) -------------

def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of near-dup dedup: from each duplicate cluster
    (dedup_components) keep only the canonical member (min doc id)
    and drop the rest — a left-anti join of the corpus against the
    non-canonical cluster members. Output: surviving doc ids.

    This is the query a training-data pipeline actually ships:
    pairs → clusters → filtered corpus, all distributed; the anti
    join's right side is tiny (only docs inside clusters), so it
    broadcasts."""
    docs = _docs(spark, sf_dir)
    cc = _dup_clusters(docs)
    drop = cc.where(F.col("node") != F.col("component")).select("node")
    return (
        docs.join(
            F.broadcast(drop), docs.doc_id == F.col("node"), "left_anti"
        )
        .select("doc_id")
        .orderBy("doc_id")
    )


DEDUP_SURVIVORS_SQL = f"""
WITH RECURSIVE sh_all AS ({_SQL_SHINGLES}),
freq AS (
    SELECT shingle, COUNT(*) AS df_ FROM sh_all GROUP BY shingle
),
sh AS (
    SELECT doc, sh_all.shingle FROM sh_all
    JOIN freq ON sh_all.shingle = freq.shingle
    WHERE df_ <= {MAX_SHINGLE_FREQ}
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON doc_a = sa.doc
    JOIN sizes sb ON doc_b = sb.doc
    WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE)
          >= {JACCARD_THRESHOLD}
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
reach(node, label) AS (
    SELECT DISTINCT u, u FROM edges
    UNION
    SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node
),
drop_docs AS (
    SELECT node FROM reach GROUP BY node HAVING node != MIN(label)
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM drop_docs)
ORDER BY doc_id
"""


# --- L20: n-gram vocabulary (tokenizer prep) -----------------------

def vocab_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary frequency table — the counting pass behind
    tokenizer training (BPE merge candidates / vocab pruning): top
    word bigrams by document frequency with deterministic
    (count desc, bigram asc) ranking. One explode + one shuffle on
    the bigram; at corpus scale add a map-side frequency floor
    before the shuffle to drop the long singleton tail early."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    bigrams = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
                F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
            )
        ).alias("z")
    ).select(F.concat_ws(" ", F.col("z.0"), F.col("z.1")).alias("bigram"))
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


BPE_TOP = 30


def vocab_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L45: one BPE merge round — the inner loop of tokenizer
    training: count adjacent CHARACTER pairs across the corpus and
    rank the top merge candidates.

    The classic BPE scale trick keeps this cheap at 100 TB: pair
    counting runs over the DISTINCT-WORD frequency table, not the
    raw corpus — Zipf collapses billions of tokens to a vocabulary
    of millions, so the char-pair explode touches each distinct word
    once and weights by its corpus frequency. Two shuffles (word
    agg, pair agg) and a TakeOrderedAndProject top-k; every
    expression is codegen (substring/transform), no UDF. Iterating
    the merge loop re-runs this plan on a re-segmented vocab table —
    each round costs O(vocab), never O(corpus)."""
    docs = _docs(spark, sf_dir)
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    ).where(F.length("w") >= 2)
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = wf.select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_TOP)
    )


VOCAB_BPE_PAIRS_SQL = f"""
WITH words AS (
    SELECT unnest({_TOKS}) AS w FROM documents
), wf AS (
    SELECT w, COUNT(*) AS freq FROM words
    WHERE length(w) >= 2 GROUP BY w
), pairs AS (
    SELECT unnest(list_transform(range(1, length(w)),
                  i -> substr(w, i, 2))) AS pair, freq
    FROM wf
)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS n FROM pairs
GROUP BY pair ORDER BY n DESC, pair ASC LIMIT {BPE_TOP}
"""


BPE_MERGES = 50


def vocab_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L66 (r10, VERDICT r9 #4): the FULL iterative BPE trainer —
    L45's merge round looped to an actual merge table (the
    tokenizer-training deliverable). One corpus scan builds the
    distinct-word frequency table; each of the {BPE_MERGES} rounds
    is O(vocab): count adjacent symbol pairs (codegen explode +
    groupBy), merge the argmax pair (count desc, symbols asc — fully
    deterministic), re-segment via ONE builtin replace over the
    double-separator encoding (operators/bpe.py). The DuckDB oracle
    replays the identical loop as an unrolled V-stage CTE, so every
    learned merge (symbols AND its count at merge time) is
    independently recomputed."""
    from etl_npl_pipeline_spark.operators.bpe import SEP, bpe_train

    docs = _docs(spark, sf_dir)
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    ).where((F.length("w") >= 2) & ~F.col("w").contains(SEP))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    return bpe_train(spark, wf, n_merges=BPE_MERGES).orderBy("rank")


def _bpe_train_oracle_sql(n_merges: int) -> str:
    """Unrolled V-stage CTE replay of the BPE training loop —
    generated, one (v, p, b) stage triple per merge round, exactly
    mirroring operators/bpe.bpe_train (same segmentation encoding,
    same replace semantics, same tie-break)."""
    stages = [
        f"""wf AS (
    SELECT w, COUNT(*) AS freq
    FROM (SELECT unnest({_TOKS}) AS w FROM documents)
    WHERE length(w) >= 2 AND w NOT LIKE '%' || chr(1) || '%'
    GROUP BY w
), v0 AS MATERIALIZED (
    SELECT regexp_replace(w, '(.)', chr(1) || '\\1' || chr(1), 'g') AS s,
           freq
    FROM wf
)"""
    ]
    pair_stage = """p{i} AS (
    SELECT pr.l AS l, pr.r AS r, SUM(freq) AS n
    FROM (SELECT freq, unnest(list_transform(range(1, len(syms)),
                j -> {{'l': syms[j], 'r': syms[j+1]}})) AS pr
          FROM (SELECT string_split(substr(s, 2, length(s) - 2),
                                    chr(1) || chr(1)) AS syms, freq
                FROM v{i}))
    GROUP BY 1, 2
), b{i} AS MATERIALIZED (SELECT l, r, n FROM p{i} ORDER BY n DESC, l ASC, r ASC LIMIT 1)"""
    merge_stage = """v{i} AS MATERIALIZED (
    SELECT replace(s,
        chr(1) || (SELECT l FROM b{prev}) || chr(1) ||
        chr(1) || (SELECT r FROM b{prev}) || chr(1),
        chr(1) || (SELECT l FROM b{prev}) ||
        (SELECT r FROM b{prev}) || chr(1)) AS s, freq
    FROM v{prev}
)"""
    for i in range(n_merges):
        if i > 0:
            stages.append(merge_stage.format(i=i, prev=i - 1))
        stages.append(pair_stage.format(i=i))
    selects = "\nUNION ALL\n".join(
        f"SELECT {i + 1} AS rank, l AS lhs, r AS rhs, l || r AS merged,"
        f" CAST(n AS BIGINT) AS pair_count FROM b{i}"
        for i in range(n_merges)
    )
    # the final re-segmentation (merge n applied) — the train replay
    # never needs it, but the ENCODE oracle selects tokens from it
    stages.append(merge_stage.format(i=n_merges, prev=n_merges - 1))
    return (
        "WITH " + ",\n".join(stages[:-1]) + "\nSELECT * FROM (\n"
        + selects + "\n) ORDER BY rank"
    ), ("WITH " + ",\n".join(stages), f"v{n_merges}")


VOCAB_BPE_TRAIN_SQL = _bpe_train_oracle_sql(BPE_MERGES)[0]


def _bpe_encode_oracle_sql(n_merges: int, top_n: int) -> str:
    """Encode oracle: replay the same n_merges-stage training CTE,
    then tokenize from the FINAL segmented vocab (v{n}) — token
    corpus frequency weighted by word freq, plus the number of
    distinct words containing the token (segmentation is injective,
    so distinct s ≡ distinct w)."""
    with_stages, final_v = _bpe_train_oracle_sql(n_merges)[1]
    return f"""{with_stages}
SELECT token,
       CAST(SUM(freq) AS BIGINT) AS tok_freq,
       CAST(COUNT(DISTINCT s) AS BIGINT) AS n_words
FROM (
    SELECT s, freq,
           unnest(string_split(substr(s, 2, length(s) - 2),
                               chr(1) || chr(1))) AS token
    FROM {final_v}
)
GROUP BY token
ORDER BY tok_freq DESC, token ASC
LIMIT {top_n}
"""


BPE_ENCODE_MERGES = 25
BPE_ENCODE_TOP = 30
VOCAB_BPE_ENCODE_SQL = _bpe_encode_oracle_sql(BPE_ENCODE_MERGES, BPE_ENCODE_TOP)


def vocab_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L67 (r11): the tokenizer-APPLY deliverable — train
    ``BPE_ENCODE_MERGES`` merges (half of L66's 50: the apply
    mechanics don't change past that, and training wall-clock is
    latency-bound per round), then tokenize the corpus with the
    FROZEN merge list via ``bpe_apply`` (operators/bpe.py) — the
    path a production pipeline runs per-shard against a published
    tokenizer artifact. Output: the top-{BPE_ENCODE_TOP} learned
    tokens by corpus frequency with the distinct-word counts
    containing them.

    Scale shape: the corpus is scanned once into the distinct-word
    frequency table (Zipf-bounded); the encoded segmentation is the
    trainer's FINAL STATE (``bpe_train(return_state=True)`` — the
    fully-merged vocab falls out of the last merge round for free;
    r11 VERDICT #5: re-deriving it through a fresh ``bpe_apply``
    chain doubled the query's replace work). A production shard
    encode still ships the frozen merge list as plan literals via
    ``bpe_apply`` — tests/test_bpe.py pins apply(train().merges) ==
    train().state so the two paths can't drift.
    The DuckDB oracle independently re-derives all merges AND the
    final segmentation via the unrolled CTE, then re-counts tokens.
    """
    from etl_npl_pipeline_spark.operators.bpe import SEP, bpe_train

    docs = _docs(spark, sf_dir)
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    ).where((F.length("w") >= 2) & ~F.col("w").contains(SEP))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    _, final_vocab = bpe_train(
        spark, wf, n_merges=BPE_ENCODE_MERGES, return_state=True
    )
    # segmentation is injective (every \x01-wrapped symbol string
    # decodes to exactly one word), so distinct s ≡ distinct w —
    # the oracle counts DISTINCT s for the same reason
    toks = final_vocab.select(
        "s",
        "freq",
        F.explode(
            F.split(F.expr("substring(s, 2, length(s) - 2)"), SEP + SEP)
        ).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(
            F.sum("freq").alias("tok_freq"),
            F.countDistinct("s").alias("n_words"),
        )
        .orderBy(F.desc("tok_freq"), F.asc("token"))
        .limit(BPE_ENCODE_TOP)
    )


VOCAB_TOP_NGRAMS_SQL = f"""
WITH toks AS (
    SELECT {_TOKS} AS t FROM documents
), bigrams AS (
    SELECT unnest(list_transform(range(1, len(t)),
                  i -> t[i] || ' ' || t[i+1])) AS bigram
    FROM toks
)
SELECT bigram, COUNT(*) AS n FROM bigrams
GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20
"""

# --- L28: overlapping repeated-span detection ----------------------

SPAN_WORDS = 12


def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span detection with OVERLAPPING sliding windows —
    the distributed analog of exact-substring dedup (Lee et al.
    2021, "Deduplicating Training Data Makes Language Models
    Better"). Unlike dedup_chunks' fixed 20-word tiling, a stride-1
    window catches a copied passage at ANY alignment; each doc is
    scored by the fraction of its windows that also occur verbatim
    in another doc.

    Plan shape: explode the window START positions first, then
    compute slice+concat+md5 as ROW-level codegen'd expressions —
    not inside a higher-order-function lambda, which Catalyst
    evaluates interpreted per element. The shuffle key is the
    16-byte md5, never the raw span text, so the exchange stays
    narrow at corpus scale.

    Single-pass frequency: a naive spans-join-frequency plan
    executes the scan+explode+md5 subtree TWICE (Spark does no
    plan-level CSE across a self-referencing DAG — the simhash
    lesson). Instead, aggregate per (h, doc_id) with an occurrence
    count, then a COUNT(*) window over h yields the distinct-doc
    frequency from the already-shuffled rows: the generation
    subtree runs once, and no collect_list means no oversized
    bucket can pin an executor.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    arr = F.split(F.trim(F.col("text")), r"\s+")
    spans = (
        docs.select("doc_id", arr.alias("toks"))
        .where(F.size("toks") >= SPAN_WORDS)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - SPAN_WORDS + 1)
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("toks"), F.col("s"), SPAN_WORDS)
                )
            ).alias("h"),
        )
    )
    occ = spans.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("occ"))
    nd = F.count(F.lit(1)).over(Window.partitionBy("h"))
    return (
        occ.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n_spans"),
            F.sum(F.when(F.col("nd") > 1, F.col("occ")).otherwise(0)).alias(
                "dup_spans"
            ),
        )
        .withColumn(
            "dup_ratio",
            F.col("dup_spans").cast("double") / F.col("n_spans"),
        )
        .orderBy("doc_id")
    )


DEDUP_SPANS_SQL = f"""
WITH base AS (
    SELECT doc_id, {_TOKS} AS arr FROM documents
),
spans AS (
    SELECT doc_id,
           md5(array_to_string(
               list_slice(arr, s, s + {SPAN_WORDS} - 1), ' ')) AS h
    FROM base,
         UNNEST(range(1, len(arr) - {SPAN_WORDS} + 2)) AS t(s)
    WHERE len(arr) >= {SPAN_WORDS}
),
freq AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY 1)
SELECT doc_id, COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
           AS dup_ratio
FROM spans JOIN freq USING (h)
GROUP BY 1 ORDER BY 1
"""


# --- L29: winnowing fingerprints ----------------------------------

WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 5  # k-grams per selection window


def text_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS algorithm): hash every token k-gram, then
    keep only the MINIMUM hash of each w-length window. Guarantees
    any shared run of >= k+w-1 tokens produces at least one shared
    fingerprint, while storing ~2/(w+1) of the k-gram hashes — the
    standard local fingerprinting scheme for plagiarism / near-dup
    detection at corpus scale.

    Entirely relational: one explode (k-gram positions), one
    doc-partitioned sliding window-min, one distinct — the heavy
    per-doc work shuffles once on doc_id and the fingerprint
    frequency pass shuffles 8-byte ints only. Output per doc:
    fingerprints kept and how many are shared with another doc.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    arr = F.split(F.trim(F.col("text")), r"\s+")
    k, w = WINNOW_K, WINNOW_W
    grams = (
        docs.select("doc_id", arr.alias("toks"))
        .where(F.size("toks") >= k + w - 1)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - k + 1)
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            (F.size("toks") - k + 1).alias("n_kgrams"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ", F.slice(F.col("toks"), F.col("pos"), k)
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long").alias("h"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    fps = (
        grams.withColumn("winmin", F.min("h").over(win))
        .where(F.col("pos") <= F.col("n_kgrams") - w + 1)
        .select("doc_id", "winmin")
        .distinct()
    )
    # Single evaluation of the window-min subtree: distinct rows are
    # (doc_id, winmin), so a COUNT(*) window over winmin IS the
    # distinct-doc frequency — no self-join, no second sort pass.
    nd = F.count(F.lit(1)).over(Window.partitionBy("winmin"))
    return (
        fps.withColumn("nd", nd)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("shared_fp"),
        )
        .orderBy("doc_id")
    )


TEXT_WINNOW_SQL = f"""
WITH base AS (
    SELECT doc_id, {_TOKS} AS arr FROM documents
),
grams AS (
    SELECT doc_id, s AS pos, len(arr) - {WINNOW_K} + 1 AS n_kgrams,
           CAST(('0x' || substr(md5(array_to_string(
               list_slice(arr, s, s + {WINNOW_K} - 1), ' ')), 1, 8))
               AS BIGINT) AS h
    FROM base,
         UNNEST(range(1, len(arr) - {WINNOW_K} + 2)) AS t(s)
    WHERE len(arr) >= {WINNOW_K} + {WINNOW_W} - 1
),
fps AS (
    SELECT DISTINCT doc_id, winmin FROM (
        SELECT doc_id, pos, n_kgrams,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {WINNOW_W - 1} FOLLOWING) AS winmin
        FROM grams
    ) WHERE pos <= n_kgrams - {WINNOW_W} + 1
),
freq AS (SELECT winmin, COUNT(DISTINCT doc_id) AS nd FROM fps GROUP BY 1)
SELECT doc_id, COUNT(*) AS n_fp,
       CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_fp
FROM fps JOIN freq USING (winmin)
GROUP BY 1 ORDER BY 1
"""

# --- L30: per-domain document capping -----------------------------

CAP_PER_SOURCE = 15
_CAP_SHARDS = 8


def data_cap_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source/domain at N documents — the rebalancing step
    that stops a mega-crawl domain from dominating the training mix
    (rate-based downsampling is data_mixture; this is the exact-count
    variant). Selection order is md5(doc_id): deterministic across
    runs, engines, and partitionings, uniform over the stratum.

    Skew-safe two-phase top-N: a straight row_number window makes
    the hottest domain one giant sort partition (straggler at
    web-crawl scale). Phase 1 ranks within (source, hash-shard) and
    keeps N per shard — map-side bounded, 8 parallel sorts per
    domain; phase 2 re-ranks the <= 8N survivors per source. Exact
    because each stratum's true top-N by hash order is contained in
    the union of its per-shard top-Ns.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    h = F.md5(F.concat_ws(":", F.lit("cap"), F.col("doc_id").cast("string")))
    shard = F.pmod(F.col("doc_id"), F.lit(_CAP_SHARDS))
    w1 = Window.partitionBy("source", shard.alias("shard")).orderBy(
        h.asc(), F.col("doc_id").asc()
    )
    pre = (
        docs.withColumn("rn1", F.row_number().over(w1))
        .where(F.col("rn1") <= CAP_PER_SOURCE)
        .drop("rn1")
    )
    w2 = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    kept = (
        pre.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= CAP_PER_SOURCE)
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("chars"),
        )
        .orderBy("source")
    )


DATA_CAP_DOMAINS_SQL = f"""
WITH ranked AS (
    SELECT source, n_chars,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM documents
)
SELECT source, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS chars
FROM ranked WHERE rn <= {CAP_PER_SOURCE}
GROUP BY source ORDER BY source
"""

# --- L31: global quality-percentile pruning -----------------------

PRUNE_FRACTION = 0.2  # drop the bottom 20% by score
_PRUNE_PARTS = 32


def corpus_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop the bottom-p% of the corpus by quality score — the
    filtering step after scoring in every corpus pipeline. The
    score is the integer-exact commonness metric (text_commonness),
    so both engines agree bitwise; the interesting part is finding
    the EXACT p-th percentile threshold at scale.

    A global row_number/percent_rank window is one partition — a
    non-starter at corpus scale — and orderBy().limit(k) collects k
    rows to the driver. Instead, classic distributed selection:

    1. range-partition by (score, doc_id) and localCheckpoint the
       P partitions (one materialization, reused by both probes);
    2. count rows per partition (P-row collect — the same bounded
       driver barrier connected_components uses per round);
    3. the k-th tuple lives in one known partition at a known local
       rank: one partition-local sort finds it;
    4. broadcast the 1-row threshold and filter with the strict
       lexicographic (score, doc_id) comparison.

    Every sort is partition-local, every driver transfer is O(P).
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias("w"),
    )
    df_table = words.groupBy("w").agg(F.count(F.lit(1)).alias("df_"))
    # No broadcast hint on the vocabulary (unbounded at corpus
    # scale) — same reasoning as text_commonness.
    scored = (
        words.join(df_table, "w")
        .groupBy("doc_id")
        .agg(
            (F.sum("df_").cast("double") / F.count(F.lit(1))).alias("score")
        )
    )
    scored = docs.select("doc_id", "lang", "n_chars").join(scored, "doc_id")

    parts = scored.repartitionByRange(
        _PRUNE_PARTS, F.col("score").asc(), F.col("doc_id").asc()
    ).localCheckpoint()
    n = parts.count()
    k = int(PRUNE_FRACTION * n)
    if k >= 1:
        with_pid = parts.withColumn("pid", F.spark_partition_id())
        counts = {
            r["pid"]: r["cnt"]
            for r in with_pid.groupBy("pid").agg(
                F.count(F.lit(1)).alias("cnt")
            ).collect()
        }
        cum, pstar, kprime = 0, None, None
        for p in sorted(counts):
            if cum + counts[p] >= k:
                pstar, kprime = p, k - cum
                break
            cum += counts[p]
        wloc = Window.partitionBy("pid").orderBy(
            F.col("score").asc(), F.col("doc_id").asc()
        )
        thr = (
            with_pid.where(F.col("pid") == pstar)
            .withColumn("rn", F.row_number().over(wloc))
            .where(F.col("rn") == kprime)
            .select(F.col("score").alias("ts"), F.col("doc_id").alias("td"))
        )
        thr_s = thr.select(F.struct("ts", "td").alias("s"))
        kept = (
            parts.withColumn("ts", thr_s.scalar().getField("ts"))
            .withColumn("td", thr_s.scalar().getField("td"))
            .where(
                (F.col("score") > F.col("ts"))
                | (
                    (F.col("score") == F.col("ts"))
                    & (F.col("doc_id") > F.col("td"))
                )
            )
        )
    else:
        kept = parts
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("chars"),
        )
        .orderBy("lang")
    )


CORPUS_PRUNE_SQL = f"""
WITH words AS (
    SELECT doc_id, unnest(list_distinct({_TOKS})) AS w
    FROM documents
), dfreq AS (
    SELECT w, COUNT(*) AS df_ FROM words GROUP BY w
), scored AS (
    SELECT doc_id,
           CAST(SUM(df_) AS DOUBLE) / COUNT(*) AS score
    FROM words JOIN dfreq USING (w)
    GROUP BY doc_id
), ranked AS (
    SELECT d.doc_id, d.lang, d.n_chars,
           row_number() OVER (ORDER BY s.score, d.doc_id) AS rn,
           COUNT(*) OVER () AS n
    FROM documents d JOIN scored s USING (doc_id)
)
SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS chars
FROM ranked
WHERE rn > CAST(FLOOR({PRUNE_FRACTION} * n) AS BIGINT)
GROUP BY lang ORDER BY lang
"""


# --- L32: BM25 keyword retrieval ----------------------------------

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QUERY = ["table", "scan", "join", "filter"]
BM25_TOP = 20


def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus for a fixed keyword
    query — the retrieval primitive behind corpus search, RAG
    pre-filtering, and contamination lookup (reference has no search
    path; this is the training-data-pipeline extension).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)),
    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)  (Lucene BM25).

    Plan shape at 100 TB:
    - the token explode filters to the query terms IMMEDIATELY
      (where t IN query, a literal in-list) so the exploded relation
      is |docs that mention a query term|, not |tokens|;
    - tf is one (doc, term) groupBy; df is a tiny aggregate
      broadcast back, and the corpus stats (N, avgdl) attach as a
      SCALAR SUBQUERY (one struct-valued subquery stage folded into
      the projection as a literal — no join node at all, so the plan
      stays BroadcastNestedLoopJoin-free); the only real shuffle is
      the tf groupBy;
    - top-N by score executes as TakeOrderedAndProject (map-side
      partial top-N), no global sort.
    Float determinism: idf/score arithmetic is written identically
    in both engines and the per-doc term sum (≤4 addends) is
    ROUND()ed to 6 — the text_lm_score contract.
    """
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    dld = docs.select("doc_id", F.size(toks).alias("dl"))
    stats = dld.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    ).select(F.struct("n_docs", "avgdl").alias("s"))
    hits = (
        docs.select("doc_id", F.explode(toks).alias("t"))
        .where(F.col("t").isin(BM25_QUERY))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = hits.groupBy("t").agg(F.count(F.lit(1)).alias("df_"))
    scored = (
        hits.join(F.broadcast(dfreq), "t")
        .join(dld, "doc_id")
        .withColumn("n_docs", stats.scalar().getField("n_docs"))
        .withColumn("avgdl", stats.scalar().getField("avgdl"))
        .select(
            "doc_id",
            (
                F.log(
                    (F.col("n_docs") - F.col("df_") + 0.5)
                    / (F.col("df_") + 0.5)
                    + 1.0
                )
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("ts"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum("ts"), 6).alias("score"),
        )
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOP)
        .select("doc_id", "n_terms", "score")
    )


_BM25_TERMS = "['" + "','".join(BM25_QUERY) + "']"

SEARCH_BM25_SQL = f"""
WITH dld AS (
    SELECT doc_id, len({_TOKS}) AS dl FROM documents
), stats AS (
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dld
), hits AS (
    SELECT doc_id, t, COUNT(*) AS tf
    FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
    WHERE list_contains({_BM25_TERMS}, t)
    GROUP BY doc_id, t
), dfreq AS (
    SELECT t, COUNT(*) AS df_ FROM hits GROUP BY t
), scored AS (
    SELECT doc_id,
           COUNT(*) AS n_terms,
           ROUND(SUM(
               ln((n_docs - df_ + 0.5) / (df_ + 0.5) + 1.0)
               * (tf * ({BM25_K1} + 1.0))
               / (tf + {BM25_K1}
                  * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))
           ), 6) AS score
    FROM hits
    JOIN dfreq USING (t)
    JOIN dld USING (doc_id)
    CROSS JOIN stats
    GROUP BY doc_id
)
SELECT doc_id, n_terms, score FROM scored
ORDER BY score DESC, doc_id ASC LIMIT {BM25_TOP}
"""


# --- L33: TF-IDF keyword extraction -------------------------------

TFIDF_TOP = 3


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOP`` TF-IDF terms per document — the classic
    keyword-extraction / sparse-retrieval featurizer (smoothed idf:
    ln((N+1)/(df+1)) + 1, sklearn's ``smooth_idf`` form).

    Shape: explode -> one shuffle for per-(doc, term) tf; document
    frequency comes from a count-over-window on the SAME term
    partitioning (no separate vocab aggregate + join, and — the L15
    lesson — no broadcast of an unbounded vocabulary); corpus size N
    is a SCALAR SUBQUERY (folded into the projection as a literal,
    no join node, keeping the plan BNLJ-free); top-k per doc is a
    row_number
    window partitioned by doc_id, never a global sort. Ranking
    compares the 6-dp ROUNDED score (identical arithmetic in both
    engines) with the term string as total-order tie-break, so the
    top-k cut is engine-stable even when two terms tie.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn(
            "df_", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .withColumn("n_docs", n_docs.scalar())
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df_") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w_doc = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w_doc))
        .where(F.col("rk") <= TFIDF_TOP)
        .select("doc_id", "term", "tfidf")
        .orderBy("doc_id", F.desc("tfidf"), "term")
    )


TEXT_TFIDF_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest({_TOKS}) AS term FROM documents
), tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), n AS (
    SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
    SELECT doc_id, term,
           ROUND(tf * (LN((n_docs + 1.0) / (df_ + 1.0)) + 1.0), 6) AS tfidf
    FROM (SELECT doc_id, term, tf,
                 COUNT(*) OVER (PARTITION BY term) AS df_ FROM tf)
    CROSS JOIN n
)
SELECT doc_id, term, tfidf FROM scored
QUALIFY ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term
) <= {TFIDF_TOP}
ORDER BY doc_id, tfidf DESC, term
"""


# --- L34: RAG / training chunking with overlap --------------------

CHUNK_SIZE = 32
CHUNK_STRIDE = 24


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token-window chunking with overlap (size 32,
    stride 24 -> 8-token overlap): the standard RAG / context-window
    packing pre-step. Emits (doc_id, chunk_idx, start_tok, n_tok,
    chunk_hash) — the hash stands in for chunk text so the row stays
    narrow and downstream chunk-level dedup (dedup_chunks) can join
    on it directly.

    Shape: map-only — split, one explode over the stride lattice
    (F.sequence, ~n/stride rows per doc), array slice + md5, all
    codegen JVM expressions; no shuffle anywhere, so it pipelines
    into whatever consumes the chunks. The trailing chunk is the
    natural short remainder (slice clamps at the array end),
    matching the oracle's list_slice semantics exactly.
    """
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    d = docs.select("doc_id", toks.alias("t")).withColumn(
        "start_tok",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("t") - 1, F.lit(0)),
                F.lit(CHUNK_STRIDE),
            )
        ),
    )
    chunk = F.slice(F.col("t"), F.col("start_tok") + 1, CHUNK_SIZE)
    # No orderBy: the plan stays a single map-only stage (zero
    # exchanges); row order is not part of the contract (driver and
    # tests compare order-insensitively).
    return d.select(
        "doc_id",
        F.expr(f"start_tok DIV {CHUNK_STRIDE}").alias("chunk_idx"),
        "start_tok",
        F.size(chunk).alias("n_tok"),
        # null text must null-propagate COHERENTLY: n_tok is already
        # NULL via size(NULL), but concat_ws SWALLOWS a null array
        # (yields ''), which would stamp the null doc with md5('') —
        # half-null rows poison downstream chunk-level dedup joins
        F.when(F.col("t").isNull(), F.lit(None))
        .otherwise(F.md5(F.concat_ws(" ", chunk)))
        .alias("chunk_hash"),
    )


DOC_CHUNKS_SQL = f"""
WITH toks AS (
    SELECT doc_id, {_TOKS} AS t FROM documents
), starts AS (
    SELECT doc_id, t,
           unnest(range(0, greatest(len(t), 1), {CHUNK_STRIDE})) AS start_tok
    FROM toks
)
SELECT doc_id,
       start_tok // {CHUNK_STRIDE} AS chunk_idx,
       start_tok,
       len(t[start_tok + 1 : start_tok + {CHUNK_SIZE}]) AS n_tok,
       md5(array_to_string(t[start_tok + 1 : start_tok + {CHUNK_SIZE}], ' '))
           AS chunk_hash
FROM starts
"""


# --- L35: vocabulary coverage curve -------------------------------

VOCAB_COVERAGE_KS = (10, 100, 1000)


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of all token occurrences the top-K vocabulary
    covers, for K in {10, 100, 1000} — the tokenizer-sizing /
    OOV-rate curve (vocab builders read this before picking a vocab
    size; Zipf corpora saturate fast).

    Shape: one shuffle for term counts, then the top-max(K) slice via
    orderBy+limit — Spark executes that as TakeOrderedAndProject
    (map-side partial top-K, no global sort). The row_number window
    that follows is partition-less but runs over at most max(K)=1000
    rows post-limit, which is the bounded-by-construction case where
    a single-partition window is correct at any corpus scale. Corpus
    token total joins in as a 1-row broadcast.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    terms = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term")
    )
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), "term").limit(max(VOCAB_COVERAGE_KS))
    ranked = top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("n"), "term"))
    )
    total = terms.agg(F.count(F.lit(1)).alias("total_tokens"))
    covered = ranked.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("rk") <= k, F.col("n"))), F.lit(0)
            ).alias(f"cov_{k}")
            for k in VOCAB_COVERAGE_KS
        ]
    )
    # try_divide: an empty corpus has total_tokens = 0 and coverage
    # is undefined -> NULL (matches the oracle's NULLIF divisor),
    # never an ANSI divide-by-zero abort
    return covered.withColumn("total_tokens", total.scalar()).select(
        *[
            F.round(
                F.try_divide(F.col(f"cov_{k}"), F.col("total_tokens")), 6
            ).alias(f"coverage_{k}")
            for k in VOCAB_COVERAGE_KS
        ],
        "total_tokens",
    )


VOCAB_COVERAGE_SQL = f"""
WITH toks AS (
    SELECT unnest({_TOKS}) AS term FROM documents
), counts AS (
    SELECT term, COUNT(*) AS n FROM toks GROUP BY 1
), ranked AS (
    SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rk FROM counts
), total AS (
    SELECT COUNT(*) AS total_tokens FROM toks
)
SELECT
    ROUND(COALESCE(SUM(CASE WHEN rk <= 10 THEN n END), 0)
          / NULLIF((SELECT total_tokens FROM total), 0), 6) AS coverage_10,
    ROUND(COALESCE(SUM(CASE WHEN rk <= 100 THEN n END), 0)
          / NULLIF((SELECT total_tokens FROM total), 0), 6) AS coverage_100,
    ROUND(COALESCE(SUM(CASE WHEN rk <= 1000 THEN n END), 0)
          / NULLIF((SELECT total_tokens FROM total), 0), 6) AS coverage_1000,
    (SELECT total_tokens FROM total) AS total_tokens
FROM ranked
"""


# --- L36: SemDeDup semantic dedup (oracle-backed as of r8) --------

SEMDEDUP_CLUSTERS = 8
SEMDEDUP_TARGET_CELL = 256  # scale n_clusters to hold ~this per cell
SEMDEDUP_PLANTED_N = 10
# Above every replica id range: the sf1/sf10 generators shift
# replica i's vec_ids by i * 1_000_000 (i <= 99), so anything under
# 100M can collide with a replica's ids — a 9M offset met replica 9
# at sf1 and duplicated every planted pair (caught by the sf1
# oracle check).
SEMDEDUP_PLANTED_OFFSET = 1_000_000_000


def _cells_for(n: int) -> int:
    """IVF cell count for an n-vector corpus: ceil(n /
    SEMDEDUP_TARGET_CELL), at least SEMDEDUP_CLUSTERS."""
    return max(SEMDEDUP_CLUSTERS, -(-n // SEMDEDUP_TARGET_CELL))


def semantic_pairs(
    spark: SparkSession, sf_dir: str, extra: DataFrame | None = None
) -> DataFrame:
    """Raw SemDeDup pair stream (id_a, id_b, cos_sim) over the
    corpus embeddings (optionally union ``extra`` vectors) — the
    L36 pipeline itself; tests/test_semantic_dedup.py pins its
    recall/false-positive/determinism properties on this form.

    n_clusters scales with the corpus (ceil(n / SEMDEDUP_TARGET_CELL),
    floor SEMDEDUP_CLUSTERS) — the docstring doctrine of
    semantic_near_dups made executable: cells stay well under the
    max_block quarantine at every sf instead of only at the contract
    scale. The count() is one cheap scan-count job."""
    emb = _emb(spark, sf_dir)
    if extra is not None:
        emb = emb.unionByName(extra)
    n = emb.count()
    return S.semantic_near_dups(
        emb, n_clusters=_cells_for(n), threshold=EMB_THRESHOLD
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: k-means cells as the blocking
    key, exact pairwise cosine within each cell (see
    operators.similarity.semantic_near_dups for the scale doctrine).

    Oracle-backed as of r8 (the profile_sketches pattern, r6
    directive #5): the k-means quantizer itself is not
    SQL-expressible, so the query emits in-query ASSERTIONS the
    oracle can replay as constants —

    - plants SEMDEDUP_PLANTED_N exact-copy vectors (vec_id + offset)
      and emits ``planted_found`` per planted pair: identical
      vectors land in the same cell deterministically, so a missing
      pair is a pipeline bug, not an approximation artifact;
    - recomputes EVERY emitted pair's cosine through the independent
      JVM path (codegen l2-normalize + ordered zip_with dot — the
      dedup_embedding construction, bit-identical by the dim-ordered
      accumulation contract) and emits ``fp_free`` = no emitted pair
      fell below threshold on recheck. This catches an Arrow/numpy
      divergence, which a vacuous replay of the emitted cos_sim
      could not.

    DuckDB's side is the fixed expected relation (every planted pair
    found, zero false positives), so any quality regression is an
    oracle MISMATCH in the driver gate, not just a test failure."""
    emb = _emb(spark, sf_dir)
    planted_src = emb.where(F.col("vec_id") < SEMDEDUP_PLANTED_N)
    planted = planted_src.withColumn(
        "vec_id", F.col("vec_id") + F.lit(SEMDEDUP_PLANTED_OFFSET)
    )
    pairs = semantic_pairs(spark, sf_dir, extra=planted)

    # independent JVM-side recheck of every emitted pair
    sq = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nrm = F.sqrt(sq)
    nv = F.transform(
        F.col("embedding"),
        lambda x: x / F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm),
    )
    # Normalize ONLY the vectors that appear in an emitted pair:
    # the Catalyst lambda HOFs here evaluate per element
    # (interpreted — the dedup.py lesson), so a semi-join prune on
    # the pair ids keeps the recheck at O(pairs * dim) instead of
    # O(corpus * dim). No explicit broadcast hints: pair count is
    # data-dependent (small at contract scale, potentially large on
    # a dup-heavy crawl), so AQE picks the strategy at runtime.
    pair_ids = (
        pairs.select(F.col("id_a").alias("vec_id"))
        .unionByName(pairs.select(F.col("id_b").alias("vec_id")))
        .distinct()
    )
    u = (
        emb.unionByName(planted)
        .join(pair_ids, "vec_id", "left_semi")
        .select("vec_id", nv.alias("nv"))
    )
    dot = F.aggregate(
        F.zip_with(F.col("nv_a"), F.col("nv_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    rechecked = (
        pairs.join(
            u.select(F.col("vec_id").alias("id_a"), F.col("nv").alias("nv_a")),
            "id_a",
        )
        .join(
            u.select(F.col("vec_id").alias("id_b"), F.col("nv").alias("nv_b")),
            "id_b",
        )
        .select(dot.alias("jvm_cos"))
    )
    # scalar SUBQUERY, not a 1-row literal-key join — the latter
    # folds its equi-condition to TRUE and plans a BNLJ (the exact
    # shape the r6 corpus-wide rewrite banned; test_plan_quality
    # caught this construction doing it again)
    # coalesce: SUM over an empty recheck stream is NULL, which would
    # make fp_free an illegible NULL instead of a real boolean
    # (r8 ADVICE) — an empty pair stream has zero false positives
    fp = rechecked.agg(
        F.coalesce(
            F.sum((F.col("jvm_cos") < EMB_THRESHOLD).cast("long")),
            F.lit(0),
        ).alias("n_fp")
    )

    expected = planted_src.select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + SEMDEDUP_PLANTED_OFFSET).alias("id_b"),
    )
    found = expected.join(
        pairs.select("id_a", "id_b", F.lit(True).alias("hit")),
        ["id_a", "id_b"],
        "left",
    ).select(
        "id_a",
        "id_b",
        F.coalesce(F.col("hit"), F.lit(False)).alias("planted_found"),
    )
    return (
        found.withColumn("fp_free", fp.scalar() == 0)
        .select("id_a", "id_b", "planted_found", "fp_free")
        .orderBy("id_a")
    )


DEDUP_SEMANTIC_SQL = f"""
SELECT vec_id AS id_a,
       vec_id + {SEMDEDUP_PLANTED_OFFSET} AS id_b,
       TRUE AS planted_found,
       TRUE AS fp_free
FROM embeddings WHERE vec_id < {SEMDEDUP_PLANTED_N}
ORDER BY id_a
"""


# --- L36b/L59 capstone: SemDeDup served FROM the persisted index ---

def ann_semantic_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-lifecycle ↔ dedup-tier composition (r9, VERDICT r8
    #3): near-duplicate discovery served FROM the persisted ANN
    index with the WHOLE CORPUS as the query batch — the
    daily-crawl loop every training-data platform runs: index
    yesterday's corpus, refresh with today's batch, sweep for dups.

    Pipeline: (1) build_ann_index on the base embeddings with
    SemDeDup-scaled cells (n_clusters = ceil(n / target_cell), so
    per-cell candidate sets stay bounded at any corpus size);
    (2) refresh_ann_index appends the planted exact-copy batch —
    frozen quantizers, O(|batch|), exactly-once via batch_key, the
    L59 lifecycle under test; (3) ivf_query with the full refreshed
    corpus as queries (|Q| = corpus — runs through the distributed
    query path, nothing query-sized touches the driver) and
    n_probe=1, which IS SemDeDup cell blocking: each vector is
    compared exactly within its own coarse cell, served from the
    cell-partitioned persisted artifact.

    Deterministic oracle (the dedup_semantic argument, now across
    the refresh boundary): an exact copy is assigned by the FROZEN
    centroids to the same cell as its original, the original's
    top-probe cell is its own, and cos = 1.0 beats every
    non-duplicate, so every planted pair MUST appear in the served
    pair stream — a miss means the refresh lost vectors, the
    manifest resolved stale segments, or the query path broke.
    ``refreshed_once`` additionally pins the lineage: the planted
    batch appears in the manifest exactly once no matter how many
    times the query re-runs (bench steady-state, driver retries)."""
    from etl_npl_pipeline_spark.operators.ann_index import (
        ivf_query,
        read_manifest,
        refresh_ann_index,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    idx = _ann_index(
        spark, sf_dir, emb, "#sweep-base", _cells_for(n + SEMDEDUP_PLANTED_N)
    )
    planted_src = emb.where(F.col("vec_id") < SEMDEDUP_PLANTED_N)
    planted = planted_src.withColumn(
        "vec_id", F.col("vec_id") + F.lit(SEMDEDUP_PLANTED_OFFSET)
    )
    refresh_ann_index(
        spark, idx, planted, batch_key="semantic-sweep-planted"
    )
    refreshed_once = (
        sum(
            1
            for a in read_manifest(idx)["appends"]
            if a.get("batch_key") == "semantic-sweep-planted"
        )
        == 1
    )

    corpus_q = emb.unionByName(planted)
    served = ivf_query(
        spark,
        idx,
        corpus_q,
        k=ANN_K,
        n_probe=1,
        n_queries_hint=n + SEMDEDUP_PLANTED_N,
    )
    pairs = (
        served.where(F.col("cos_sim") >= EMB_THRESHOLD)
        .select(
            F.least("query_id", "neighbor_id").alias("id_a"),
            F.greatest("query_id", "neighbor_id").alias("id_b"),
        )
        .distinct()
    )
    expected = planted_src.select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + SEMDEDUP_PLANTED_OFFSET).alias("id_b"),
    )
    return (
        expected.join(
            pairs.withColumn("hit", F.lit(True)), ["id_a", "id_b"], "left"
        )
        .select(
            "id_a",
            "id_b",
            F.coalesce(F.col("hit"), F.lit(False)).alias("planted_found"),
            F.lit(refreshed_once).alias("refreshed_once"),
        )
        .orderBy("id_a")
    )


ANN_SEMANTIC_SWEEP_SQL = f"""
SELECT vec_id AS id_a,
       vec_id + {SEMDEDUP_PLANTED_OFFSET} AS id_b,
       TRUE AS planted_found,
       TRUE AS refreshed_once
FROM embeddings WHERE vec_id < {SEMDEDUP_PLANTED_N}
ORDER BY id_a
"""


# --- ST-L59: streaming micro-batches → persisted ANN index ---------

def stream_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → index lifecycle composition (r9, VERDICT r8 #5):
    build the ANN index on a base third of the embeddings, then
    drain the remaining vectors THROUGH A REAL STRUCTURED STREAM
    (``staged_stream``: one micro-batch per remaining third → one
    refresh_ann_index call per micro-batch via foreachBatch —
    streaming.events.stream_refresh_index, with content-derived
    batch_keys for exactly-once appends under at-least-once replay).

    FULL equality oracle: after the drain the index holds the entire
    embeddings table, and a FULL-PROBE ivf_query is exact brute-force
    cosine over the indexed vectors (every cell scored, persisted
    doubles round-trip exactly, `dot` accumulates in the scalar
    fold order) — so the result must hash-match the same brute-force
    SQL that backs ann_topk. A lost micro-batch, a double append, or
    a stale manifest read all surface as a row mismatch.

    Idempotent across invocations: batch i is always the
    vec_id % 3 == i + 1 third, the checkpoint is fresh per
    invocation, and already-appended content keys no-op in the
    manifest lineage (bench steady-state re-runs measure the drain
    machinery + query, not duplicate appends)."""
    from etl_npl_pipeline_spark.operators.ann_index import ivf_query

    emb = _emb(spark, sf_dir)
    idx = _ann_index(
        spark, sf_dir, emb.where(F.col("vec_id") % 3 == 0), "#stream-refresh-base"
    )

    tmp = sf_scratch_dir("stream_index_refresh", sf_dir)
    vstream = staged_stream(emb, F.col("vec_id") % 3 - 1, 2, f"{tmp}/in")
    stream_refresh_index(vstream, idx, f"{tmp}/_checkpoint")

    queries = emb.where(F.col("vec_id") < ANN_N_QUERIES)
    return ivf_query(
        spark, idx, queries, k=ANN_K, n_probe=IVF_KNOBS["n_clusters"],
        n_queries_hint=ANN_N_QUERIES,
    ).orderBy("query_id", "rank")


# post-drain full-probe == exact brute force over the whole table:
# the same relation ann_topk's oracle computes.
STREAM_INDEX_REFRESH_SQL = ANN_TOPK_SQL


# --- L37: per-group embedding centroids ---------------------------

def emb_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (mean pooling) — the vector
    aggregation primitive behind semantic clustering, class
    prototypes, and IVF-style coarse quantizer bootstraps, computed
    fully distributed (contrast operators.ivf._centroids, which
    trains on a bounded driver sample: THIS is what you run when the
    grouping key is a real column and every vector must count).

    Emitted in long form (label, dim, mean_v) rather than packed
    arrays: scalar floats compare exactly under the driver's
    normalization, and downstream re-packing is a cheap
    collect_list per label when needed.

    Shape: one posexplode (64 rows per vector, map-side) and ONE
    shuffle on (label, dim) with partial aggregation — sums combine
    map-side, so the exchange carries one partial row per (label,
    dim, input partition), never the vectors. 6-dp round hides the
    sum-order last-bit drift (the repo-wide float-agg contract).
    """
    emb = _emb(spark, sf_dir)
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("mean_v"))
        .orderBy("label", "dim")
    )


EMB_CENTROIDS_SQL = """
SELECT label, i - 1 AS dim,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS mean_v
FROM embeddings, (SELECT unnest(range(1, 65)) AS i)
GROUP BY label, i ORDER BY label, dim
"""


# --- A45: corpus length histogram ---------------------------------

def doc_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed token-length histogram of the corpus — the
    first profiling pass of any ingest (truncation/padding budgets,
    length-filter thresholds, packing efficiency all read off it).

    Map-only expression work then one tiny shuffle on the bucket id
    (at most ~40 distinct buckets regardless of corpus size — the
    aggregate output is bounded by construction). floor(log2(n)) is
    engine-stable: log2 is exact on powers of two and no other
    integer input lands within an ulp of an integer result.
    """
    docs = _docs(spark, sf_dir)
    n = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        docs.select(
            F.floor(F.log2(n)).alias("log2_tokens"), n.alias("n_tokens")
        )
        .groupBy("log2_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("log2_tokens")
    )


DOC_LENGTH_HIST_SQL = f"""
WITH lens AS (
    SELECT len({_TOKS}) AS n_tokens FROM documents
)
SELECT CAST(FLOOR(LOG2(n_tokens)) AS BIGINT) AS log2_tokens,
       COUNT(*) AS n_docs,
       MIN(n_tokens) AS min_tokens,
       MAX(n_tokens) AS max_tokens
FROM lens GROUP BY 1 ORDER BY 1
"""


# --- L38: two-stage RAG retrieval (BM25 -> cosine rerank) ---------

RAG_QUERY_VEC = 0
RAG_TOP = 10


def rag_retrieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, the RAG serving pattern end-to-end:
    BM25 keyword candidates (search_bm25's plan, unchanged) inner-
    joined to the embedding table, then reranked by exact cosine
    against a query vector. Composes L32 + the L6 cosine machinery —
    the candidate set is the scale trick: the quadratic rerank only
    ever sees BM25_TOP rows, so the expensive exact similarity is
    O(candidates), never O(corpus).

    The query vector (vec_id = RAG_QUERY_VEC) and the candidate list
    are both tiny -> broadcast; the only non-trivial work is BM25's
    single tf shuffle. Rerank cut ranks the 6-dp ROUNDED cosine with
    doc_id tie-break (the engine-stable top-k contract shared with
    text_tfidf).
    """
    cands = search_bm25(spark, sf_dir).select("doc_id", "score")
    emb = _emb(spark, sf_dir)
    qv = emb.where(F.col("vec_id") == RAG_QUERY_VEC).select(
        S.l2_normalize(F.col("embedding")).alias("qv")
    )
    cv = emb.select(
        F.col("vec_id").alias("doc_id"),
        S.l2_normalize(F.col("embedding")).alias("cv"),
    )
    return (
        cands.join(cv, "doc_id")
        .withColumn("qv", qv.scalar())
        .select(
            "doc_id",
            "score",
            F.round(S.dot(F.col("cv"), F.col("qv")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.desc("cos_sim"), "doc_id")
        .limit(RAG_TOP)
    )


RAG_RETRIEVE_SQL = f"""
WITH cand AS ({SEARCH_BM25_SQL}),
nrm AS ({_SQL_NORMED}),
qv AS (SELECT nv FROM nrm WHERE vec_id = {RAG_QUERY_VEC}),
scored AS (
    SELECT cand.doc_id, cand.score,
           ROUND({_SQL_NDOT.format(a="c.nv", b="qv.nv")}, 6) AS cos_sim
    FROM cand JOIN nrm c ON c.vec_id = cand.doc_id CROSS JOIN qv
)
SELECT doc_id, score, cos_sim FROM scored
ORDER BY cos_sim DESC, doc_id LIMIT {RAG_TOP}
"""


# --- L78: MMR diversified re-ranking --------------------------------

MMR_LAMBDA = 0.7
MMR_K = 5
MMR_CAND = 12
MMR_N_QUERIES = 4


def search_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L78 (r13): maximal marginal relevance re-ranking (Carbonell &
    Goldstein 1998) — the diversify step every RAG/retrieval stack
    runs between candidate generation and the context window: greedy
    selection of k results maximizing
    ``lambda * rel(d) - (1 - lambda) * max_{s in S} sim(d, s)``,
    so near-duplicate candidates don't crowd out coverage.

    Two-stage shape (the rag_retrieve doctrine): candidates come
    from the persisted IVF index at FULL probe (exact top-MMR_CAND
    per query — ann_filtered_topk's exactness construction), so the
    expensive work is index-served and candidate-bounded; MMR then
    runs all MMR_K greedy rounds in ONE cogroup by query_id
    (r13 optimization, guide §1.2 "fix the distributed algorithm"):
    the greedy selection is per-query-LOCAL — round r needs only
    the query's own candidates, its own pairwise sims and its own
    selected set — so expressing it as K global DataFrame rounds
    (anti-join + join + argmax window per round, localCheckpoint
    per round) paid K global barriers and ~70 scheduler stages for
    an algorithm with zero cross-query dependency (measured 82
    stages / 5.6 s warm at sf0.1; the cogroup form is 26 stages /
    ~2 s, identical rows). One exchange co-partitions candidates
    and sims by query_id; each group replays the greedy rounds
    over its ≤MMR_CAND rows. At 100 TB the corpus never touches
    the loop; per-query state is O(MMR_CAND²) — the same bound the
    round-joins had, now without K synchronization points.

    Determinism across engines: rel and pairwise sims are 6-dp
    ROUNDED before any comparison (both engines then run identical
    IEEE ops — the emb_pca rounded-operand doctrine), ties break by
    neighbor_id asc, and the first pick's mmr score is defined as
    lambda * rel (max-sim term zero on an empty selected set). The
    DuckDB oracle unrolls the same MMR_K rounds as CTE stages
    (sel1..selK), mirroring the power-iteration oracle's unrolled
    chain."""
    from etl_npl_pipeline_spark.operators.ann_index import ivf_query

    idx, emb, queries = _served_batch(spark, sf_dir, MMR_N_QUERIES)
    cands = (
        ivf_query(
            spark, idx, queries, k=MMR_CAND,
            n_probe=IVF_KNOBS["n_clusters"],
            # bounded serving batch: skip the size-probe job (ADVICE
            # r12 — the probe re-executes the upstream plan)
            n_queries_hint=MMR_N_QUERIES,
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos_sim", 6).alias("rel"),
        )
    )
    # lineage control (kept from the round-join form): sims derives
    # from cands, so without the lazy checkpoint the cogroup would
    # (a) recompute the index-probe subtree three times (cands side
    # + both sims sides) and (b) trip the ambiguous-self-join check.
    cands = cands.localCheckpoint(eager=False)
    nv = emb.select(
        "vec_id", S.l2_normalize(F.col("embedding")).alias("nv")
    )
    a = cands.select("query_id", F.col("neighbor_id").alias("id_a"))
    b = cands.select("query_id", F.col("neighbor_id").alias("id_b"))
    sims = (
        a.join(b, "query_id")
        .where(F.col("id_a") != F.col("id_b"))
        .join(nv.select(F.col("vec_id").alias("id_a"),
                        F.col("nv").alias("nv_a")), "id_a")
        .join(nv.select(F.col("vec_id").alias("id_b"),
                        F.col("nv").alias("nv_b")), "id_b")
        .select(
            # renamed key: cands and sims share lineage, and a
            # cogroup whose two sides group on the SAME attribute id
            # trips Spark's ambiguous-self-join check
            F.col("query_id").alias("sq"), "id_a", "id_b",
            F.round(S.dot(F.col("nv_a"), F.col("nv_b")), 6)
            .alias("sim"),
        )
    )
    lam = float(MMR_LAMBDA)
    one_minus_lam = 1.0 - lam
    kk = MMR_K

    # All MMR_K greedy rounds in one pass per query group. The
    # arithmetic is the EXACT IEEE sequence of the former per-round
    # DataFrame plan: operands are the 6-dp-rounded rel/sim doubles,
    # round 1 scores lam*rel, later rounds lam*rel - (1-lam)*max(sim
    # over selected) with (1-lam) pre-computed in Python exactly as
    # the old F.lit(1.0 - lam) literal was; the argmax tie-breaks
    # (mmr desc, neighbor_id asc) replay the old row_number window's
    # total order. A candidate with NO sim row against any selected
    # row is excluded from that round's pick pool — the old inner
    # join's behavior, mirrored so the rewrite is row-identical even
    # on a pathological sims relation.
    def _mmr_rounds(cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"query_id": [], "rank": [], "neighbor_id": [], "mmr": []}
        ).astype(
            {
                "query_id": np.int64,
                "rank": np.int32,
                "neighbor_id": np.int64,
                "mmr": np.float64,
            }
        )
        if not len(cpdf):
            return empty
        sim = {
            (a, b): s
            for a, b, s in zip(
                spdf["id_a"].to_numpy(),
                spdf["id_b"].to_numpy(),
                spdf["sim"].to_numpy(),
            )
        }
        qid = int(cpdf["query_id"].iloc[0])
        rel = {
            int(n): float(r)
            for n, r in zip(
                cpdf["neighbor_id"].to_numpy(), cpdf["rel"].to_numpy()
            )
        }
        remaining = set(rel)
        selected: list[int] = []
        out_rank, out_id, out_mmr = [], [], []
        for step in range(1, kk + 1):
            best_id, best_mmr = None, None
            for c in remaining:
                if step == 1:
                    mmr = lam * rel[c]
                else:
                    ms = None
                    for s in selected:
                        v = sim.get((c, s))
                        if v is not None and (ms is None or v > ms):
                            ms = v
                    if ms is None:  # old inner join: drop this round
                        continue
                    mmr = lam * rel[c] - one_minus_lam * ms
                if (
                    best_mmr is None
                    or mmr > best_mmr
                    or (mmr == best_mmr and c < best_id)
                ):
                    best_id, best_mmr = c, mmr
            if best_id is None:
                break
            selected.append(best_id)
            remaining.discard(best_id)
            out_rank.append(step)
            out_id.append(best_id)
            out_mmr.append(best_mmr)
        return pd.DataFrame(
            {
                "query_id": np.full(len(out_rank), qid, dtype=np.int64),
                "rank": np.asarray(out_rank, dtype=np.int32),
                "neighbor_id": np.asarray(out_id, dtype=np.int64),
                "mmr": np.asarray(out_mmr, dtype=np.float64),
            }
        )

    selected = (
        cands.groupby("query_id")
        .cogroup(sims.groupby("sq"))
        .applyInPandas(
            _mmr_rounds,
            schema="query_id long, rank int, neighbor_id long, mmr double",
        )
    )
    # scale 7, not 6: with 6-dp rel/ms operands the true mmr is
    # EXACTLY an integer/1e7 (0.7*rel - 0.3*ms), so 7-dp rounding
    # recovers the exact decimal on both engines, while 6-dp sits on
    # a .5 boundary whenever 7*rel_int - 3*ms_int ends in 5 — Spark's
    # shortest-repr HALF_UP and DuckDB's binary-exact round disagree
    # there (measured on one rank-1 row at sf0.01)
    return selected.select(
        "query_id", "rank", "neighbor_id",
        F.round("mmr", 7).alias("mmr_score"),
    ).orderBy("query_id", "rank")


def _mmr_sql() -> str:
    lam = float(MMR_LAMBDA)
    one_m = 1.0 - lam
    stages = [
        f"""sel1 AS (
    SELECT query_id, neighbor_id, 1 AS rank, {lam} * rel AS mmr
    FROM (SELECT query_id, neighbor_id, rel,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY {lam} * rel DESC, neighbor_id) AS rn
          FROM cand) WHERE rn = 1
)"""
    ]
    for step in range(2, MMR_K + 1):
        prev = " UNION ALL ".join(
            f"SELECT * FROM sel{j}" for j in range(1, step)
        )
        stages.append(
            f"""sel{step} AS (
    SELECT query_id, neighbor_id, {step} AS rank, mmr FROM (
        SELECT c.query_id, c.neighbor_id,
               {lam} * c.rel - {one_m} * MAX(s.sim) AS mmr,
               ROW_NUMBER() OVER (PARTITION BY c.query_id
                   ORDER BY {lam} * c.rel - {one_m} * MAX(s.sim) DESC,
                            c.neighbor_id) AS rn
        FROM cand c
        JOIN ({prev}) sel ON sel.query_id = c.query_id
        JOIN sims s ON s.query_id = c.query_id
             AND s.id_a = c.neighbor_id AND s.id_b = sel.neighbor_id
        WHERE c.neighbor_id NOT IN (
            SELECT neighbor_id FROM ({prev}) x
            WHERE x.query_id = c.query_id)
        GROUP BY c.query_id, c.neighbor_id, c.rel
    ) WHERE rn = 1
)"""
        )
    all_sel = " UNION ALL ".join(
        f"SELECT * FROM sel{j}" for j in range(1, MMR_K + 1)
    )
    return f"""
WITH nrm AS ({_SQL_NORMED}),
ranked AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND({_SQL_NDOT.format(a="q.nv", b="c.nv")}, 6) AS rel,
           ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_SQL_NDOT.format(a="q.nv", b="c.nv")} DESC,
                        c.vec_id ASC
           ) AS rnk
    FROM nrm q JOIN nrm c ON q.vec_id != c.vec_id
    WHERE q.vec_id < {MMR_N_QUERIES}
),
cand AS (
    SELECT query_id, neighbor_id, rel FROM ranked
    WHERE rnk <= {MMR_CAND}
),
sims AS (
    SELECT a.query_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
           ROUND({_SQL_NDOT.format(a="na.nv", b="nb.nv")}, 6) AS sim
    FROM cand a
    JOIN cand b ON a.query_id = b.query_id
         AND a.neighbor_id != b.neighbor_id
    JOIN nrm na ON na.vec_id = a.neighbor_id
    JOIN nrm nb ON nb.vec_id = b.neighbor_id
),
{", ".join(stages)}
SELECT query_id, rank, neighbor_id, ROUND(mmr, 7) AS mmr_score
FROM ({all_sel}) ORDER BY query_id, rank
"""


SEARCH_MMR_SQL = _mmr_sql()


# --- L79: linear quality-probe regression ----------------------------

QP_STEPS = 8
QP_LR = 0.4
# feature scales chosen at the features' natural magnitudes so the
# normalized design matrix is O(1) and fixed-step GD is stable
QP_SCALES = [1, 100, 10, 500, 50]
QP_YSCALE = 100
QP_TERMS = [
    "w_intercept", "w_n_words", "w_stop_hits", "w_n_chars",
    "w_n_digits",
]


def _qp_rnd(x: float, p: float) -> float:
    """floor(x*p + 0.5)/p — EXPLICIT half-up rounding built from
    floor, mirrored literally in the SQL oracle. Library round()
    semantics differ across engines (Python banker's vs DuckDB
    half-away; Spark shortest-repr HALF_UP — the search_mmr find);
    floor on the identical binary double cannot."""
    import math

    return math.floor(x * p + 0.5) / p


def text_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L79 (r13): train a LINEAR QUALITY PROBE — the
    classifier-distillation step (FineWeb-Edu / DCLM shape) where an
    expensive quality signal is regressed onto cheap per-doc
    features so the probe can score the remaining 99% of the corpus
    at scan cost. Features: [1, n_words, stop_hits, n_chars,
    n_digits] (exact ints); target: the composite heuristic quality
    points y = 40*ok_len + 3*min(stop_hits,10) + 20*low_digit (ints).

    Scale architecture (the emb_pca doctrine): ONE distributed pass
    computes the sufficient statistics — X'X upper triangle, X'y,
    y², n as EXACT BIGINT sums (integer features make the moments
    order-independent and bit-identical across engines; at true
    100 TB widths these become decimal(38) partials) — and gradient
    descent then runs driver-side on the 5x5 normalized system as a
    model artifact: QP_STEPS fixed steps, w <- rnd9(w - lr * 2 *
    (S'w - b')), every arithmetic step left-associated and rounded
    via floor(x*1e9+0.5)/1e9 so the DuckDB oracle's unrolled CTE
    chain (s1..s8, the emb_pca unrolled-chain pattern) reproduces
    the trajectory BIT-FOR-BIT. Output: the 5 probe weights (9dp)
    and the training MSE (6dp) — the artifact a pipeline publishes
    before the probe scores the corpus."""
    return _qp_fit(
        spark, _qp_moments(_qp_feature_frame(_docs(spark, sf_dir)))
    )


def _qp_feature_frame(
    docs: DataFrame, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(f0..f4, y) integer feature/target frame shared by the batch
    and incremental probe contracts. ``extra`` columns pass through
    untouched (grouping keys for per-batch moment aggregation)."""
    feats = T.quality_features("text")
    n_digits = F.length("text") - F.length(
        F.regexp_replace("text", "[0-9]", "")
    )
    return docs.select(
        *[F.col(c) for c in extra],
        F.lit(1).cast("long").alias("f0"),
        feats["n_words"].cast("long").alias("f1"),
        feats["stop_hits"].cast("long").alias("f2"),
        feats["n_chars"].cast("long").alias("f3"),
        n_digits.cast("long").alias("f4"),
        (
            F.when(feats["len_band"] == 1, F.lit(40)).otherwise(F.lit(0))
            + F.lit(3) * F.least(feats["stop_hits"], F.lit(10))
            + F.when(
                F.lit(5) * n_digits <= feats["n_chars"], F.lit(20)
            ).otherwise(F.lit(0))
        ).cast("long").alias("y"),
    )


def _qp_agg_exprs() -> list:
    aggs = []
    for i in range(5):
        for j in range(i, 5):
            aggs.append(
                F.sum(F.col(f"f{i}") * F.col(f"f{j}")).alias(f"s{i}{j}")
            )
    for i in range(5):
        aggs.append(F.sum(F.col(f"f{i}") * F.col("y")).alias(f"b{i}"))
    aggs.append(F.sum(F.col("y") * F.col("y")).alias("ysq"))
    aggs.append(F.count(F.lit(1)).alias("n"))
    return aggs


def _qp_moments(d: DataFrame) -> dict:
    """Exact-BIGINT sufficient statistics of a feature frame — the
    additive model state (moments of disjoint batches SUM to the
    full-corpus moments exactly, the property the incremental
    contract pins)."""
    row = d.agg(*_qp_agg_exprs()).collect()[0]
    out = {k: (row[k] or 0) for k in row.asDict()}
    return out


def _qp_add_moments(a: dict, b: dict) -> dict:
    """Integer moment addition — the incremental-refresh operator."""
    return {k: a[k] + b[k] for k in a}


def _qp_fit(spark: SparkSession, mom: dict) -> DataFrame:
    """Fixed-step GD on the normalized system + report frame."""
    n = mom["n"]
    if n == 0:  # empty corpus: no probe to fit
        return spark.createDataFrame(
            [], "term string, value double"
        )
    s = [[0] * 5 for _ in range(5)]
    for i in range(5):
        for j in range(i, 5):
            s[i][j] = s[j][i] = mom[f"s{i}{j}"]
    c = QP_SCALES
    m = [
        [s[i][j] / (c[i] * c[j] * n) for j in range(5)]
        for i in range(5)
    ]
    bb = [mom[f"b{i}"] / (c[i] * QP_YSCALE * n) for i in range(5)]
    yy = mom["ysq"] / (QP_YSCALE * QP_YSCALE * n)

    w = [0.0] * 5
    for _ in range(QP_STEPS):
        nw = []
        for j in range(5):
            acc = 0.0
            for i in range(5):  # left-associated, index order
                acc = acc + m[j][i] * w[i]
            g = 2.0 * (acc - bb[j])
            nw.append(_qp_rnd(w[j] - QP_LR * g, 1e9))
        w = nw
    # mse = yy - 2 w.b + w'Mw, same fold order as the SQL
    dot_wb = 0.0
    for j in range(5):
        dot_wb = dot_wb + w[j] * bb[j]
    quad = 0.0
    for i in range(5):
        for j in range(5):
            quad = quad + w[i] * m[i][j] * w[j]
    mse = _qp_rnd(yy - 2.0 * dot_wb + quad, 1e6)

    from etl_npl_pipeline_spark.functions.localrel import small_report_df

    rows = [(QP_TERMS[j], w[j]) for j in range(5)]
    rows.append(("train_mse", mse))
    return small_report_df(
        spark, rows, "term string, value double"
    ).orderBy("term")


def _qp_sql() -> str:
    c = QP_SCALES
    moms = []
    for i in range(5):
        for j in range(i, 5):
            moms.append(
                f"CAST(SUM(f{i} * f{j}) AS BIGINT) AS s{i}{j}"
            )
    for i in range(5):
        moms.append(f"CAST(SUM(f{i} * y) AS BIGINT) AS b{i}")
    norm_cols = []
    for i in range(5):
        for j in range(5):
            sij = f"s{min(i, j)}{max(i, j)}"
            norm_cols.append(
                f"CAST({sij} AS DOUBLE) / ({c[i]} * {c[j]} * n)"
                f" AS m{i}{j}"
            )
    for i in range(5):
        norm_cols.append(
            f"CAST(b{i} AS DOUBLE) / ({c[i]} * {QP_YSCALE} * n) AS bb{i}"
        )
    norm_cols.append(
        f"CAST(ysq AS DOUBLE) / ({QP_YSCALE} * {QP_YSCALE} * n) AS yy"
    )
    steps = ["s0 AS (SELECT " + ", ".join(
        f"CAST(0 AS DOUBLE) AS w{j}" for j in range(5)
    ) + ", norm.* FROM norm)"]
    for t in range(1, QP_STEPS + 1):
        cols = []
        for j in range(5):
            acc = "CAST(0 AS DOUBLE)"
            for i in range(5):
                acc = f"({acc} + m{j}{i} * w{i})"
            cols.append(
                f"FLOOR((w{j} - {QP_LR} * (2.0 * ({acc} - bb{j})))"
                f" * 1e9 + 0.5) / 1e9 AS w{j}"
            )
        steps.append(
            f"s{t} AS (SELECT " + ", ".join(cols)
            + ", " + ", ".join(
                f"m{i}{j}" for i in range(5) for j in range(5)
            )
            + ", " + ", ".join(f"bb{i}" for i in range(5))
            + f", yy FROM s{t - 1})"
        )
    dot_wb = "CAST(0 AS DOUBLE)"
    for j in range(5):
        dot_wb = f"({dot_wb} + w{j} * bb{j})"
    quad = "CAST(0 AS DOUBLE)"
    for i in range(5):
        for j in range(5):
            quad = f"({quad} + w{i} * m{i}{j} * w{j})"
    weight_rows = " UNION ALL ".join(
        f"SELECT '{QP_TERMS[j]}' AS term, w{j} AS value"
        f" FROM s{QP_STEPS}"
        for j in range(5)
    )
    return f"""
WITH feats AS (
    SELECT 1 AS f0,
           len({_TOKS}) AS f1,
           len(list_filter({_TOKS}, t -> list_contains({_STOP_EN}, t)))
               AS f2,
           len(text) AS f3,
           len(text) - len(regexp_replace(text, '[0-9]', '', 'g'))
               AS f4
    FROM documents
),
fy AS (
    SELECT f0, f1, f2, f3, f4,
           (CASE WHEN f1 >= 20 AND f1 <= 120 THEN 40 ELSE 0 END
            + 3 * LEAST(f2, 10)
            + CASE WHEN 5 * f4 <= f3 THEN 20 ELSE 0 END) AS y
    FROM feats
),
mom AS (
    SELECT {", ".join(moms)},
           CAST(SUM(y * y) AS BIGINT) AS ysq,
           COUNT(*) AS n
    FROM fy
),
norm AS (
    SELECT {", ".join(norm_cols)} FROM mom
),
{", ".join(steps)}
SELECT term, value FROM (
{weight_rows}
UNION ALL
SELECT 'train_mse' AS term,
       FLOOR((yy - 2.0 * {dot_wb} + {quad}) * 1e6 + 0.5) / 1e6 AS value
FROM s{QP_STEPS}
)
-- empty corpus: no probe to fit (mirrors the Spark early return)
WHERE (SELECT n FROM mom) > 0
ORDER BY term
"""


TEXT_QUALITY_PROBE_SQL = _qp_sql()


def text_quality_probe_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """L79b (r13): INCREMENTAL probe refresh — the moments are exact
    integer sums, so model state is ADDITIVE: train on batch A,
    persist the 22 sufficient statistics, add batch B's statistics,
    refit — NO rescan of A, and the result is BIT-identical to a
    full retrain (associativity of integer addition; the T23
    agg_incremental doctrine applied to model training). Here the
    corpus arrives as the doc_id-parity halves; each half's moments
    come from its own aggregation GROUP (one grouped pass computes
    both halves' statistics — r13: the former two filtered
    one-pass aggregates scanned the corpus twice for the same
    per-half numbers) and the fit runs on their driver-side sum.
    Oracle = the full-corpus probe SQL — incremental == batch IS
    the contract."""
    docs = _docs(spark, sf_dir)
    # parity key travels NEXT to the features: one scan, one grouped
    # aggregate, one row of exact moments per half
    feats = _qp_feature_frame(
        docs.withColumn("_k", F.col("doc_id") % 2), extra=("_k",)
    )
    rows = feats.groupBy("_k").agg(*_qp_agg_exprs()).collect()
    halves = [
        {k: (r[k] or 0) for k in r.asDict() if k != "_k"} for r in rows
    ]
    if not halves:
        return _qp_fit(spark, _qp_moments(_qp_feature_frame(docs)))
    return _qp_fit(spark, reduce(_qp_add_moments, halves))


TEXT_QUALITY_PROBE_INCREMENTAL_SQL = TEXT_QUALITY_PROBE_SQL


def stream_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST15 (r13): STREAMING model refresh — the third leg of the
    L79 trilogy (batch / incremental / streaming). The corpus
    arrives as a four-batch availableNow stream (``staged_stream``,
    slice = doc_id mod 4); each micro-batch contributes its 22
    exact-BIGINT sufficient statistics via ONE aggregate inside
    foreachBatch, the driver ADDS them into the model-state
    accumulator (the same additivity L79b pins), and the fit runs
    once after the drain. Result == batch retrain bit-for-bit, so
    the oracle IS the full-corpus probe SQL.

    Exactly-once: foreachBatch is at-least-once under restart — a
    replayed batch_id must not double-count its moments, so the
    per-batch moments are keyed by batch_id (``drain_per_batch``)
    and a replay overwrites instead of adds (the MOR-epoch
    doctrine, in miniature). At 100 TB this is a long-lived stream
    folding per-batch partials into a persisted moments artifact;
    retraining is a driver-side refit of 22 numbers — no corpus
    rescan, ever."""
    src_dir = sf_scratch_dir("stream_qprobe", sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    stream = staged_stream(docs, F.pmod("doc_id", 4), 4, f"{src_dir}/in")
    moments = drain_per_batch(
        _qp_feature_frame(stream),
        "stream_quality_probe",
        f"{src_dir}/ckpt",
        _qp_moments,
    )
    return _qp_fit(spark, reduce(_qp_add_moments, moments))


STREAM_QUALITY_PROBE_SQL = TEXT_QUALITY_PROBE_SQL


# --- L39: corpus filter funnel ------------------------------------

FUNNEL_MIN_TOKENS = 30
FUNNEL_STOP_RATIO = 0.03
FUNNEL_MAX_REP = 0.05


def corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage filter funnel (FineWeb/Dolma-style quality
    report): how many documents survive each cumulative gate —
    min length -> predicted-language -> stopword-quality -> low
    repetition. The per-stage attrition is THE number a pipeline
    operator reads before/after changing any filter threshold.

    All four signals reuse the production expressions (token count,
    lang_id, quality_features stop ratio, duplicate-trigram ratio),
    evaluated in ONE map-only pass over one scan; the cumulative
    counts come from a single aggregate (conditional sums — 5 output
    numbers), then unpivot via stack(). No shuffle carries any row
    data: the only exchange moves partial count tuples.
    """
    from etl_npl_pipeline_spark.operators.dedup import word_shingles

    docs = _docs(spark, sf_dir)
    # Stage every raw signal ONCE as a column, gates over plain
    # references (r9 #6): the inline form re-embedded each deep
    # expression tree (lang_id argmax, shingle zip, token splits)
    # into several conjunctions, and Catalyst's per-plan processing
    # of that tree — not execution — was the funnel's measured cost.
    # CollapseProject keeps non-cheap multi-referenced aliases
    # staged, so this is also the single-pass evaluation shape.
    staged = T.with_lang_id(
        _spread(spark, docs.select("text")), "text", out="_lang"
    )
    sig = staged.select(
        "_lang",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("_n_tok"),
        T.stopword_hits("text", "en").alias("_stop"),
        F.size(word_shingles("text", 3)).alias("_nd"),
    )
    n3 = F.greatest(F.col("_n_tok") - 2, F.lit(0))
    rep = F.when(
        n3 > 0, 1.0 - F.col("_nd").cast("double") / n3
    ).otherwise(F.lit(0.0))
    flags = sig.select(
        (F.col("_n_tok") >= FUNNEL_MIN_TOKENS).alias("len_ok"),
        (F.col("_lang") == "en").alias("lang_ok"),
        (
            (F.col("_stop").cast("double") / F.col("_n_tok"))
            >= FUNNEL_STOP_RATIO
        ).alias("q_ok"),
        (rep <= FUNNEL_MAX_REP).alias("rep_ok"),
    )
    one = flags.agg(
        F.count(F.lit(1)).alias("raw"),
        F.sum(F.col("len_ok").cast("long")).alias("s1"),
        F.sum((F.col("len_ok") & F.col("lang_ok")).cast("long")).alias("s2"),
        F.sum(
            (F.col("len_ok") & F.col("lang_ok") & F.col("q_ok")).cast("long")
        ).alias("s3"),
        F.sum(
            (
                F.col("len_ok")
                & F.col("lang_ok")
                & F.col("q_ok")
                & F.col("rep_ok")
            ).cast("long")
        ).alias("s4"),
    )
    return one.selectExpr(
        "stack(5, '0_raw', raw, '1_min_length', s1, '2_lang_en', s2, "
        "'3_stopword_quality', s3, '4_low_repetition', s4) AS (stage, n_docs)"
    )


CORPUS_FILTER_FUNNEL_SQL = f"""
WITH sig AS (
    SELECT len({_TOKS}) AS n_tok,
           {_LANG_SCORES_SQL},
           greatest(len({_TOKS}) - 2, 0) AS n_trigrams,
           len(list_distinct(list_transform(
               range(1, len({_TOKS}) - 1),
               i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2]
           ))) AS n_distinct
    FROM documents
), flags AS (
    SELECT n_tok >= {FUNNEL_MIN_TOKENS} AS len_ok,
           ({_LANGID_CASE_SQL}) = 'en' AS lang_ok,
           (CAST(s_en AS DOUBLE) / n_tok) >= {FUNNEL_STOP_RATIO} AS q_ok,
           (CASE WHEN n_trigrams > 0
                 THEN 1.0 - CAST(n_distinct AS DOUBLE) / n_trigrams
                 ELSE 0.0 END) <= {FUNNEL_MAX_REP} AS rep_ok
    FROM sig
), agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS raw,
           CAST(SUM(CASE WHEN len_ok THEN 1 ELSE 0 END) AS BIGINT) AS s1,
           CAST(SUM(CASE WHEN len_ok AND lang_ok THEN 1 ELSE 0 END)
                AS BIGINT) AS s2,
           CAST(SUM(CASE WHEN len_ok AND lang_ok AND q_ok THEN 1 ELSE 0 END)
                AS BIGINT) AS s3,
           CAST(SUM(CASE WHEN len_ok AND lang_ok AND q_ok AND rep_ok
                         THEN 1 ELSE 0 END) AS BIGINT) AS s4
    FROM flags
)
SELECT '0_raw' AS stage, raw AS n_docs FROM agg
UNION ALL SELECT '1_min_length', s1 FROM agg
UNION ALL SELECT '2_lang_en', s2 FROM agg
UNION ALL SELECT '3_stopword_quality', s3 FROM agg
UNION ALL SELECT '4_low_repetition', s4 FROM agg
"""


# --- L40: round-robin source interleave ---------------------------

INTERLEAVE_PREVIEW = 100


def data_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin interleave of per-source document
    streams — the curriculum-scheduling complement to data_mixture
    (rate-based) and data_shuffle (global order): round r emits one
    document from EVERY source before any source sends its (r+1)-th,
    so a batch window at any offset sees near-equal source
    representation. Within a source the order is md5(seed‖doc_id) —
    the repo-wide never-rand() doctrine, reproducible across
    engines, retries, and partitionings.

    Shape: one row_number window partitioned by source (rank within
    source), then the preview of the first rounds via
    orderBy(round, source) + limit = TakeOrderedAndProject (map-side
    partial top-K, no global sort). At scale the per-source window
    is the only shuffle; a mega-source makes that window's sort its
    partition's cost — if one source dominates, pre-bucket it the
    way data_cap_domains two-phases its top-N.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    key = F.md5(F.concat(F.lit("ilv0-"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source")
        .withColumn("round", F.row_number().over(w))
        # NULLS LAST explicitly: Spark's asc default is NULLS FIRST,
        # DuckDB's is NULLS LAST — on a corpus with null sources the
        # two previews silently diverge unless the rule is pinned
        .orderBy("round", F.col("source").asc_nulls_last(), "doc_id")
        .limit(INTERLEAVE_PREVIEW)
    )


DATA_INTERLEAVE_SQL = f"""
SELECT doc_id, source,
       ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('ilv0-' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS round
FROM documents
ORDER BY round, source NULLS LAST, doc_id LIMIT {INTERLEAVE_PREVIEW}
"""


# --- X4: z-order locality sort ------------------------------------

ZORDER_PREVIEW = 50


def data_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key over (lang, source): writing the corpus
    sorted by the Morton interleave of the two dimension hashes
    clusters rows so parquet min/max stats prune scans filtered on
    EITHER column — a lexicographic sort only skips on the leading
    one (operators.zorder for the doctrine; Delta's OPTIMIZE ZORDER
    is the same trick). Pure codegen bit arithmetic, engine-stable
    md5-prefix hashes; this preview emits the first slots of the
    layout order via TakeOrderedAndProject — the production write is
    ``df.orderBy(zkey).write`` (range exchange, distributed).
    """
    from etl_npl_pipeline_spark.operators.zorder import hash16, morton_key

    docs = _docs(spark, sf_dir)
    zkey = morton_key(hash16("lang"), hash16("source"))
    return (
        docs.select("doc_id", "lang", "source", zkey.alias("zkey"))
        .orderBy("zkey", "doc_id")
        .limit(ZORDER_PREVIEW)
    )


# COALESCE mirrors hash16's total-key rule: null dims take the
# ''-slot instead of producing a null zkey
_Z16 = """CAST(('0x' || substr(md5(COALESCE({c}, '')), 1, 4)) AS BIGINT)"""

DATA_ZORDER_SQL = f"""
WITH h AS (
    SELECT doc_id, lang, source,
           {_Z16.format(c="lang")} AS ha,
           {_Z16.format(c="source")} AS hb
    FROM documents
)
SELECT doc_id, lang, source,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
               list_transform(range(0, 16),
                   i -> (((ha >> i) & 1) << (2 * i))
                        | (((hb >> i) & 1) << (2 * i + 1)))),
           (acc, x) -> acc | x) AS zkey
FROM h
ORDER BY zkey, doc_id LIMIT {ZORDER_PREVIEW}
"""


# --- L41: canonical text normalization ----------------------------

def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text fingerprints (operators.text.normalize_text:
    NFC → lower → whitespace collapse → trim): the canonicalization
    every exact-dedup and tokenizer stage runs first. Emitting the
    md5 of the normalized text keeps the row narrow AND is exactly
    the join key normalized exact-dedup uses. The oracle replays the
    same chain with DuckDB's nfc_normalize — both engines consume
    identical UTF-8, so the hashes must agree byte-for-byte.
    """
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    norm = T.normalize_text("text")
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length(norm).alias("n_chars_norm"),
    ).orderBy("doc_id")


TEXT_NORMALIZE_SQL = """
SELECT doc_id,
       md5(trim(regexp_replace(lower(nfc_normalize(text)),
                               '\\s+', ' ', 'g'))) AS norm_hash,
       length(trim(regexp_replace(lower(nfc_normalize(text)),
                                  '\\s+', ' ', 'g'))) AS n_chars_norm
FROM documents WHERE doc_id < 200 ORDER BY doc_id
"""


# --- L42: contrastive training-pair generation --------------------

def data_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pair generation for embedding / reranker training:
    positives are the near-dup candidate pairs (3-gram jaccard over
    the capped inverted index — the L4 generator, unchanged);
    negatives are a deterministic md5-ring pairing (each doc with
    its successor in md5 order WITHIN a hash bucket), anti-joined
    against the positives so no pair carries both labels.

    The negative sampler is the scale point: random sampling needs
    rand() (non-reproducible) or a cartesian (absurd); the bucketed
    ring is one partitioned window — no global sort, no rand(),
    same pairs on every engine/retry — and md5 adjacency is
    content-independent, exactly what a random negative should be.
    The positive-pair anti-join broadcasts (near-dup pairs are a
    vanishing fraction of the corpus by construction).

    The contract query sorts for oracle determinism; the production
    path is ``contrastive_pairs_plan`` (no global sort — a pair
    writer partitions by bucket and never needs a total order).
    """
    return contrastive_pairs_plan(_docs(spark, sf_dir)).orderBy(
        "label", "anchor_id", "other_id"
    )


# Negative-sampler bucket width in md5 hex chars. The window
# partitions by this prefix, so 16^width is the shuffle-parallelism
# ceiling of the negative pass: 1 char = 16 buckets would cap a
# 1000-executor cluster at 16 tasks each sorting corpus/16 rows;
# 3 chars = 4096 buckets keeps every executor busy while each
# bucket still holds enough docs to pair (corpus/4096 >> 1 at any
# real scale). Raise for >10^10-doc corpora.
NEG_BUCKET_CHARS = 3


def contrastive_pairs_plan(docs: DataFrame) -> DataFrame:
    """Unsorted contrastive pairs (anchor_id, other_id, label)."""
    from pyspark.sql import Window

    # TWO consumers of the jaccard generator (the pos projection and
    # the broadcast anti-join key frame) — without a checkpoint the
    # inverted-index self-join runs twice (r14, guide §2.4; the
    # near-dup pair set is a vanishing fraction of the corpus, so
    # persisting it is O(pairs)).
    pos_raw = D.jaccard_pairs(
        docs,
        "text",
        "doc_id",
        n=3,
        threshold=JACCARD_THRESHOLD,
        max_shingle_freq=MAX_SHINGLE_FREQ,
    ).localCheckpoint(eager=False)
    pos = pos_raw.select(
        F.col("doc_a").alias("anchor_id"),
        F.col("doc_b").alias("other_id"),
        F.lit(1).alias("label"),
    )
    key = F.md5(F.concat(F.lit("pair0-"), F.col("doc_id").cast("string")))
    d = docs.select(
        "doc_id",
        key.alias("k"),
        F.substring(key, 1, NEG_BUCKET_CHARS).alias("bkt"),
    )
    w = Window.partitionBy("bkt").orderBy("k", "doc_id")
    neg = (
        d.withColumn("other_id", F.lead("doc_id").over(w))
        .where(F.col("other_id").isNotNull())
        .select(
            F.col("doc_id").alias("anchor_id"),
            "other_id",
            F.lit(0).alias("label"),
        )
    )
    pos_keys = pos_raw.select(
        F.col("doc_a").alias("ka"), F.col("doc_b").alias("kb")
    )
    neg = neg.join(
        F.broadcast(pos_keys),
        (F.least("anchor_id", "other_id") == F.col("ka"))
        & (F.greatest("anchor_id", "other_id") == F.col("kb")),
        "left_anti",
    )
    return pos.unionByName(neg)


_NEG_KEY = "md5('pair0-' || CAST(doc_id AS VARCHAR))"

DATA_CONTRASTIVE_SQL = f"""
WITH sh_all AS ({_SQL_SHINGLES}),
freq AS (
    SELECT shingle, COUNT(*) AS df_ FROM sh_all GROUP BY shingle
),
sh AS (
    SELECT doc, sh_all.shingle FROM sh_all
    JOIN freq ON sh_all.shingle = freq.shingle
    WHERE df_ <= {MAX_SHINGLE_FREQ}
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
),
pos AS (
    SELECT doc_a, doc_b FROM inter
    JOIN sizes sa ON doc_a = sa.doc
    JOIN sizes sb ON doc_b = sb.doc
    WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE)
          >= {JACCARD_THRESHOLD}
),
neg0 AS (
    SELECT doc_id AS anchor_id,
           LEAD(doc_id) OVER (
               PARTITION BY substr({_NEG_KEY}, 1, {NEG_BUCKET_CHARS})
               ORDER BY {_NEG_KEY}, doc_id
           ) AS other_id
    FROM documents
),
neg AS (
    SELECT anchor_id, other_id, 0 AS label FROM neg0
    WHERE other_id IS NOT NULL
      AND NOT EXISTS (
          SELECT 1 FROM pos p
          WHERE p.doc_a = least(anchor_id, other_id)
            AND p.doc_b = greatest(anchor_id, other_id)
      )
)
SELECT doc_a AS anchor_id, doc_b AS other_id, 1 AS label FROM pos
UNION ALL
SELECT anchor_id, other_id, label FROM neg
ORDER BY label, anchor_id, other_id
"""


# --- L43: cross-source duplicate-leakage matrix --------------------

def dedup_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-governance op: how many EXACT duplicates does each pair
    of sources share? The question every mixture designer asks before
    weighting sources (double-counting a mirrored crawl silently
    up-weights it) and every eval owner asks about train/test splits
    drawn from different sources. Planted mirror copies (doc_id % 7
    == 0 re-identified under source='mirror') guarantee the matrix is
    non-trivial on the synthetic corpus.

    Shape: normalized-text md5 → DISTINCT (hash, source) — the
    dedup-sized shuffle that exact dedup already pays — then a
    self-join on hash with source_a < source_b. Posting lists per
    hash are bounded by the source count (tens), so the join output
    is O(dups x sources²_per_hash), never corpus²; one final
    two-column groupBy. No text ever moves after the hash pass.
    """
    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    planted = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    base = docs.unionByName(planted)
    hashed = base.select(
        F.md5(D.normalize_text("text")).alias("h"), "source"
    ).distinct()
    a = hashed.alias("a")
    b = hashed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("source_a", "source_b")
    )


DEDUP_CROSS_SOURCE_SQL = """
WITH base AS (
    SELECT doc_id, text, source FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text, 'mirror' FROM documents
    WHERE doc_id % 7 = 0
),
hashed AS (
    SELECT DISTINCT
        md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h,
        source
    FROM base
)
SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
FROM hashed a JOIN hashed b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- L46: incremental dedup against a persisted signature store ---

_SIG_STORE_TMP = scratch_dir("sig_store")


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L46: continuous-ingest dedup — a NEW BATCH deduplicates
    against the persisted signature store of everything already
    ingested, then appends its accepted signatures. This is the
    shape every rolling crawl runs daily: the corpus is never
    re-scanned, only its hash index is consulted.

    Here the store seeds from docs with doc_id % 4 != 0; the new
    batch is the rest plus planted re-crawls (copies of existing
    docs under new ids), guaranteeing both cross-batch and
    in-batch duplicates exist. Accepted = in-batch keeper (min
    doc_id per hash) that is NOT in the store.

    Scale shape: the store side is corpus-sized, so the anti-join
    SHUFFLES on the 16-byte hash — deliberately not broadcast (the
    r2 lesson: never broadcast an unbounded set); the batch side is
    small, so at 100 TB this is a map-side-pruned shuffle join on
    md5 keys with even distribution by construction. The store
    append is O(batch). Store rebuilt per call for determinism.
    """
    import shutil as _shutil

    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    existing = docs.where(F.col("doc_id") % 4 != 0)
    _shutil.rmtree(_SIG_STORE_TMP, ignore_errors=True)
    # null text -> null hash: a signature store must not carry NULL
    # keys (Spark's anti-join never matches them -> every null doc
    # "accepted" forever; and one NULL in a SQL NOT-IN store empties
    # the whole result by three-valued logic). Content-less docs are
    # outside dedup's contract on both engines.
    existing.select(
        F.md5(D.normalize_text("text")).alias("h")
    ).where(F.col("h").isNotNull()).distinct().write.parquet(_SIG_STORE_TMP)

    recrawl = docs.where(F.col("doc_id") % 8 == 1).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    batch = (
        docs.where(F.col("doc_id") % 4 == 0).unionByName(recrawl)
        .select("doc_id", F.md5(D.normalize_text("text")).alias("h"))
        .where(F.col("h").isNotNull())
    )
    w = Window.partitionBy("h").orderBy("doc_id")
    keepers = (
        batch.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", "h")
    )
    store = spark.read.parquet(_SIG_STORE_TMP)
    # Materialize BEFORE the append: the returned frame is lazily
    # re-executed by the caller, and an un-pinned anti-join would
    # then re-list the store directory and anti-join every accepted
    # doc against its own just-appended signature (empty result).
    accepted = keepers.join(store, "h", "left_anti").localCheckpoint(
        eager=True
    )
    # append accepted signatures so the NEXT batch sees them
    accepted.select("h").write.mode("append").parquet(_SIG_STORE_TMP)
    return accepted.select("doc_id").orderBy("doc_id")


DEDUP_INCREMENTAL_SQL = """
WITH norm AS (
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
    FROM documents
),
store AS (
    SELECT DISTINCT h FROM norm WHERE doc_id % 4 <> 0 AND h IS NOT NULL
),
batch AS (
    SELECT doc_id, h FROM norm WHERE doc_id % 4 = 0 AND h IS NOT NULL
    UNION ALL
    SELECT doc_id + 2000000, h FROM norm
    WHERE doc_id % 8 = 1 AND h IS NOT NULL
),
keepers AS (
    SELECT doc_id, h FROM (
        SELECT doc_id, h,
               ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rk
        FROM batch
    ) WHERE rk = 1
)
SELECT doc_id FROM keepers
WHERE h NOT IN (SELECT h FROM store)
ORDER BY doc_id
"""


# --- L47: Gopher/Dolma document-quality rule flags -----------------

def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L47: the Gopher (Rae et al. 2021) / Dolma rule family as
    per-document boolean flags — word-count bounds, mean-word-length
    band, alphabetic-word fraction, minimum distinct-stopword hits —
    plus the conjunction the pipeline actually gates on. Keeping the
    individual flags (not just the verdict) is what lets the funnel
    report (L39) attribute attrition per rule.

    Scale shape: map-only codegen — token array built once per row,
    every rule is a HOF over it, no shuffle. Integer/ratio
    arithmetic is exact except mean word length, which both engines
    compute as int/int division in double and round to 6 dp.

    Unsegmented-script caveat: these rules are defined over
    WHITESPACE tokens (as in the Gopher paper, which is English-
    only). On Thai/CJK text a whole sentence is one "word", so
    word-count and mean-word-length gates misfire; route such
    documents by lang_id (which now identifies them via script
    dominance) and gate them on token_count_mixed /
    text_script_profile signals instead — the standard practice
    (Dolma, FineWeb-2) of per-language thresholds."""
    docs = _docs(spark, sf_dir)
    toks = T.tokens("text")
    n_words = F.size(toks)
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_wl = F.when(
        n_words > 0, F.round(sum_len.cast("double") / n_words, 6)
    ).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    stop_arr = F.array(*[F.lit(w) for w in T.LANG_STOPWORDS["en"]])
    stop_distinct = F.size(
        F.array_intersect(F.array_distinct(toks), stop_arr)
    )
    r_wc = (n_words >= 15) & (n_words <= 10_000)
    r_mwl = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    r_alpha = alpha_words * 10 >= n_words * 8  # >= 0.8, exact ints
    r_stop = stop_distinct >= 2
    return (
        docs.where(F.col("doc_id") < 250)
        .select(
            "doc_id",
            n_words.alias("n_words"),
            mean_wl.alias("mean_word_len"),
            r_wc.cast("int").alias("rule_word_count"),
            r_mwl.cast("int").alias("rule_mean_word_len"),
            r_alpha.cast("int").alias("rule_alpha_frac"),
            r_stop.cast("int").alias("rule_stopwords"),
            (r_wc & r_mwl & r_alpha & r_stop).cast("int").alias("passes"),
        )
        .orderBy("doc_id")
    )


TEXT_GOPHER_RULES_SQL = f"""
WITH t AS (
    SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 250
), m AS (
    SELECT doc_id,
           len(toks) AS n_words,
           list_aggregate(list_transform(toks, x -> len(x)), 'sum')
               AS sum_len,
           len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               AS alpha_words,
           len(list_intersect(list_distinct(toks),
                              {_STOP_EN})) AS stop_distinct
    FROM t
), r AS (
    SELECT doc_id, n_words,
           CASE WHEN n_words > 0
                THEN ROUND(CAST(sum_len AS DOUBLE) / n_words, 6)
                ELSE 0.0 END AS mean_word_len,
           (n_words >= 15 AND n_words <= 10000) AS r_wc,
           alpha_words, stop_distinct
    FROM m
)
SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len,
       CAST(r_wc AS INT) AS rule_word_count,
       CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INT)
           AS rule_mean_word_len,
       CAST(alpha_words * 10 >= n_words * 8 AS INT) AS rule_alpha_frac,
       CAST(stop_distinct >= 2 AS INT) AS rule_stopwords,
       CAST(r_wc AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND alpha_words * 10 >= n_words * 8
            AND stop_distinct >= 2 AS INT) AS passes
FROM r ORDER BY doc_id
"""


# --- L48: character-class script profile ---------------------------

def text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L48: per-document character-class composition — alphabetic /
    digit / whitespace / other counts and the dominant class. The
    cheap first-pass signal crawl pipelines use to drop binary
    junk, code masquerading as prose, and wrong-script documents
    before any tokenizer runs.

    Scale shape: map-only, four regexp_replace+length expressions
    per row in one codegen stage; no shuffle, no UDF. Counts are
    exact integers so the oracle compare is exact."""
    docs = _docs(spark, sf_dir)
    c = F.col("text")
    n_total = F.length(c)
    n_alpha = F.length(F.regexp_replace(c, "[^a-zA-Z]", ""))
    n_digit = F.length(F.regexp_replace(c, "[^0-9]", ""))
    n_space = F.length(F.regexp_replace(c, r"\S", ""))
    n_other = n_total - n_alpha - n_digit - n_space
    dominant = (
        F.when((n_alpha >= n_digit) & (n_alpha >= n_space)
               & (n_alpha >= n_other), F.lit("alpha"))
        .when((n_digit >= n_space) & (n_digit >= n_other), F.lit("digit"))
        .when(n_space >= n_other, F.lit("space"))
        .otherwise(F.lit("other"))
    )
    return (
        docs.where(F.col("doc_id") < 250)
        .select(
            "doc_id",
            n_total.alias("n_total"),
            n_alpha.alias("n_alpha"),
            n_digit.alias("n_digit"),
            n_space.alias("n_space"),
            n_other.alias("n_other"),
            dominant.alias("dominant"),
        )
        .orderBy("doc_id")
    )


TEXT_SCRIPT_PROFILE_SQL = """
WITH m AS (
    SELECT doc_id,
           len(text) AS n_total,
           len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha,
           len(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
           len(regexp_replace(text, '\\S', '', 'g')) AS n_space
    FROM documents WHERE doc_id < 250
)
SELECT doc_id,
       CAST(n_total AS INT) AS n_total,
       CAST(n_alpha AS INT) AS n_alpha,
       CAST(n_digit AS INT) AS n_digit,
       CAST(n_space AS INT) AS n_space,
       CAST(n_total - n_alpha - n_digit - n_space AS INT) AS n_other,
       CASE
         WHEN n_alpha >= n_digit AND n_alpha >= n_space
              AND n_alpha >= n_total - n_alpha - n_digit - n_space
           THEN 'alpha'
         WHEN n_digit >= n_space
              AND n_digit >= n_total - n_alpha - n_digit - n_space
           THEN 'digit'
         WHEN n_space >= n_total - n_alpha - n_digit - n_space
           THEN 'space'
         ELSE 'other'
       END AS dominant
FROM m ORDER BY doc_id
"""


# --- L49: quality-quantile curriculum assignment -------------------

def data_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L49: curriculum scheduling — rank documents by a quality
    signal (en-stopword density) and cut each SOURCE into 4 ntile
    stages, easiest (highest quality) first; training then feeds
    stage 1 before stage 2. Per-stage sums stay exact integers so
    the oracle compare is exact.

    Scale shape: the ntile window partitions by source (the same
    partitioning L25/L40 already justify: source count is bounded,
    rows per source are what the cluster shards on) — one shuffle,
    no global sort. A mega-source makes one window partition large;
    the mitigation (sub-bucket by md5 prefix inside the source)
    is the documented L42 pattern and not needed at contract scale.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    n_words = F.size(T.tokens("text"))
    score = F.round(
        T.stopword_hits("text", "en").cast("double") / n_words, 6
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id", "source", score.alias("score"),
            n_words.alias("n_words"),
            T.stopword_hits("text", "en").alias("stop_hits"),
        )
        .withColumn("stage", F.ntile(4).over(w))
        .groupBy("source", "stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("stop_hits").alias("sum_stop_hits"),
            F.sum("n_words").alias("sum_words"),
        )
        .orderBy("source", "stage")
    )


DATA_CURRICULUM_SQL = f"""
WITH scored AS (
    SELECT doc_id, source,
           ROUND(CAST(len(list_filter({_TOKS},
                     t -> list_contains({_STOP_EN}, t))) AS DOUBLE)
                 / len({_TOKS}), 6) AS score,
           len({_TOKS}) AS n_words,
           len(list_filter({_TOKS},
                     t -> list_contains({_STOP_EN}, t))) AS stop_hits
    FROM documents
), staged AS (
    SELECT source, stop_hits, n_words,
           NTILE(4) OVER (PARTITION BY source
                          ORDER BY score DESC, doc_id) AS stage
    FROM scored
)
SELECT source, stage, COUNT(*) AS n_docs,
       CAST(SUM(stop_hits) AS BIGINT) AS sum_stop_hits,
       CAST(SUM(n_words) AS BIGINT) AS sum_words
FROM staged GROUP BY source, stage ORDER BY source, stage
"""


# --- L50: int8 scalar quantization of embeddings -------------------

def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L50: per-vector int8 scalar quantization (min/max affine) —
    the standard 4x memory cut for embedding stores (float32 -> 1
    byte/dim) and the entry-level sibling of L43's PQ: code =
    round((x - mn) / ((mx - mn)/255)), dequant = mn + code*step.
    Emits per-vector reconstruction error so the pipeline can gate
    quantization on measured quality, not hope.

    Scale shape: map-only HOF chain (array_min/max + two transforms
    + an aggregate fold) in one codegen stage; nothing shuffles.
    The error fold mirrors DuckDB's list_reduce left-to-right, and
    max() is order-free — both round to 6 dp for the compare."""
    emb = _emb(spark, sf_dir).where(F.col("vec_id") < 200)
    e = F.col("embedding")
    mn = F.array_min(e)
    mx = F.array_max(e)
    step = (mx - mn) / F.lit(255.0)
    errs = F.when(
        mx > mn,
        F.transform(
            e,
            lambda x: F.abs(
                x - (mn + F.round((x - mn) / step, 0) * step)
            ),
        ),
    ).otherwise(F.transform(e, lambda x: F.lit(0.0)))
    err_sum = F.aggregate(
        errs, F.lit(0.0), lambda acc, v: acc + v
    )
    return emb.select(
        "vec_id",
        F.round(mn, 6).alias("v_min"),
        F.round(mx, 6).alias("v_max"),
        F.round(F.array_max(errs), 6).alias("err_max"),
        F.round(err_sum / F.size(e), 6).alias("err_mean"),
    ).orderBy("vec_id")


EMB_QUANTIZE_INT8_SQL = """
WITH e AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
    FROM embeddings WHERE vec_id < 200
), m AS (
    SELECT vec_id, emb,
           list_min(emb) AS mn, list_max(emb) AS mx
    FROM e
), q AS (
    SELECT vec_id, mn, mx,
           CASE WHEN mx > mn THEN list_transform(emb,
               x -> abs(x - (mn + ROUND((x - mn) / ((mx - mn)/255.0), 0)
                               * ((mx - mn)/255.0))))
           ELSE list_transform(emb, x -> 0.0) END AS errs,
           len(emb) AS dim
    FROM m
)
SELECT vec_id,
       ROUND(mn, 6) AS v_min,
       ROUND(mx, 6) AS v_max,
       ROUND(list_max(errs), 6) AS err_max,
       ROUND(list_reduce(errs, (a, b) -> a + b) / dim, 6) AS err_mean
FROM q ORDER BY vec_id
"""


# --- L51: token-budget epoch planning ------------------------------

TOKEN_BUDGET = 1_000_000


def data_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L51: pre-training run planning — given a global token budget,
    allocate it across sources proportionally to their token mass
    and report how many epochs of each source that allocation buys
    (x100, integer — mixtures are usually quoted in 0.01-epoch
    granularity). The arithmetic every training-mixture spreadsheet
    does, expressed as a plan so it runs on the real corpus instead
    of a sampled guess.

    Scale shape: one per-source agg (map-side partials; source
    cardinality is bounded) + a 1-row broadcast of the corpus total.
    All integer arithmetic — floor-div allocations are exact and
    engine-independent."""
    docs = _docs(spark, sf_dir)
    per_src = (
        docs.select("source", T.token_count_ws("text").alias("n_tok"))
        .groupBy("source")
        .agg(F.sum("n_tok").alias("src_tokens"))
    )
    total = per_src.agg(F.sum("src_tokens").alias("total_tokens"))
    alloc = F.floor(
        F.lit(TOKEN_BUDGET).cast("long") * F.col("src_tokens")
        / F.col("total_tokens")
    )
    return (
        per_src.withColumn("total_tokens", total.scalar())
        .select(
            "source",
            "src_tokens",
            alloc.alias("alloc_tokens"),
            F.floor(alloc * 100 / F.col("src_tokens")).alias("epochs_x100"),
        )
        .orderBy("source")
    )


DATA_TOKEN_BUDGET_SQL = f"""
WITH per_src AS (
    SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS src_tokens
    FROM documents GROUP BY source
), tot AS (SELECT SUM(src_tokens) AS total_tokens FROM per_src)
SELECT source, src_tokens,
       CAST(FLOOR(CAST({TOKEN_BUDGET} AS BIGINT) * src_tokens
                  / total_tokens) AS BIGINT) AS alloc_tokens,
       CAST(FLOOR(FLOOR(CAST({TOKEN_BUDGET} AS BIGINT) * src_tokens
                        / total_tokens) * 100
                  / src_tokens) AS BIGINT) AS epochs_x100
FROM per_src, tot ORDER BY source
"""


# --- L52: language-ID confusion matrix -----------------------------

def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L52: classifier evaluation INSIDE the pipeline — confusion
    matrix of the L8 heuristic language-ID against the corpus'
    labeled ``lang`` column. Running evaluation as a distributed
    query (instead of a notebook sample) is what lets a crawl
    operator watch lang-filter precision drift per ingest batch.

    Scale shape: map-only scoring (same codegen exprs as L8) + one
    2-key groupBy; output is |langs|^2 bounded."""
    docs = _docs(spark, sf_dir)
    return (
        T.with_lang_id(
            _spread(spark, docs.select("lang", "text")),
            "text", out="predicted",
        )
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


TEXT_LANGID_CONFUSION_SQL = f"""
WITH scores AS (
    SELECT lang,
           {_LANG_SCORES_SQL}
    FROM documents
), step AS (
    SELECT lang,
           {_LANGID_CASE_SQL} AS predicted
    FROM scores
)
SELECT lang, predicted, COUNT(*) AS n
FROM step GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- L60: multiscript lang-id + script-aware token counting --------

# Planted multiscript documents — label is the EXPECTED lang_id
# answer. The corpus (TESTDATA.md) is Latin-script only, so the
# script-dominance stage of lang_id (the path that identifies the
# reference's own Thai domain, src/ETL-NPL-Pipeline.py:5) needs
# planted inputs to be exercised at all. Texts avoid apostrophes so
# one literal serves both the Spark DataFrame and the SQL VALUES.
PLANTED_LANG_DOCS: list[tuple[str, str]] = [
    ("th", "ธนาคารแห่งประเทศไทยรายงานสัดส่วนหนี้เสียของไตรมาสนี้ลดลงเล็กน้อย"),
    ("th", "สินเชื่อด้อยคุณภาพในระบบธนาคารพาณิชย์ยังคงทรงตัวจากไตรมาสก่อน"),
    ("zh", "中国人民银行发布最新不良贷款数据报告显示风险可控"),
    ("zh", "商业银行资产质量保持稳定监管机构持续关注信贷风险"),
    ("ja", "日本銀行は不良債権のデータを発表しました金融システムは安定しています"),
    ("ja", "銀行の貸出残高は増加しましたが不良債権比率は低下しました"),
    ("ko", "한국은행이 부실채권 비율에 대한 분기 보고서를 발표했다"),
    ("ko", "시중은행의 대출 연체율은 전분기보다 소폭 하락했다"),
    ("ru", "Центральный банк опубликовал отчет о просроченных кредитах за квартал"),
    ("ar", "نشر البنك المركزي تقريرا عن القروض المتعثرة لهذا الربع"),
    ("en", "the central bank published a report of bad loans and the ratio fell in the quarter"),
    ("es", "el banco central publicó la proporción de préstamos morosos y la cifra bajó en el trimestre"),
    ("fr", "le rapport de la banque centrale sur les créances douteuses et les chiffres des prêts"),
    ("de", "der bericht der zentralbank über notleidende kredite und die quote ist nicht gestiegen"),
    # Latin-dominant with a quoted Thai phrase: the quote is below
    # script dominance, so the stopword path must keep it 'en'.
    ("en", "the bank reported that อัตราหนี้เสีย improved again in the quarter"),
    # HALFWIDTH katakana (U+FF66-FF9F — legacy bank-export encoding;
    # r9, the r8 ADVICE range widening): all-kana ⇒ ja via the kana
    # share split. Before the widening this fell to 'und'.
    ("ja", "ﾆﾎﾝｷﾞﾝｺｳﾊﾌﾘｮｳｻｲｹﾝﾉﾃﾞｰﾀｦﾊｯﾋﾟｮｳｼﾏｼﾀ"),
]


def text_lang_id_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L60: multiscript language ID + script-aware token counting —
    the corpus slice (Latin, exercises the stopword fallback) union
    planted Thai/zh/ja/ko/ru/ar documents (exercise the
    script-dominance stage), aggregated as a (label, predicted)
    confusion with the summed token_count_mixed per cell. A planted
    row off its (lang, lang) diagonal is a visible lang_id bug; the
    token sum pins grapheme-safe counting (Thai combining marks do
    not count) in the same oracle.

    Scale shape: identical to L8/L52 — map-only codegen scoring,
    one bounded groupBy; the planted side is a constant-size local
    relation unioned into the scan, not a join."""
    docs = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 200)
        .select("lang", "text")
    )
    from etl_npl_pipeline_spark.functions.localrel import small_report_df

    planted = small_report_df(
        spark, PLANTED_LANG_DOCS, "lang string, text string"
    )
    return (
        T.with_lang_id(docs.unionByName(planted), "text", out="predicted")
        .select(
            "lang",
            "predicted",
            T.token_count_mixed("text").alias("tok"),
        )
        .groupBy("lang", "predicted")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("tok").alias("sum_tokens_mixed"),
        )
        .orderBy("lang", "predicted")
    )


def _planted_values_sql() -> str:
    # single quotes SQL-escaped by doubling (r8 ADVICE: safety used
    # to rest on a comment-level "texts avoid apostrophes" convention)
    return ",\n           ".join(
        "('{}', '{}')".format(lang, text.replace("'", "''"))
        for lang, text in PLANTED_LANG_DOCS
    )


TEXT_LANG_ID_CJK_SQL = f"""
WITH unioned AS (
    SELECT lang, text FROM documents WHERE doc_id < 200
    UNION ALL
    SELECT * FROM (VALUES {_planted_values_sql()}) AS p(lang, text)
), scores AS (
    SELECT lang,
           {_LANG_SCORES_SQL},
           {_TOK_MIXED_SQL} AS tok
    FROM unioned
), step AS (
    SELECT lang,
           {_LANGID_CASE_SQL} AS predicted,
           tok
    FROM scores
)
SELECT lang, predicted, COUNT(*) AS n,
       CAST(SUM(tok) AS BIGINT) AS sum_tokens_mixed
FROM step GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- L61: per-language Gopher rule routing --------------------------

# ids clear every sf replica range (replica i shifts by i * 1e6) and
# the SemDeDup planted offset (1e9)
GOPHER_MS_PLANT_BASE = 1_500_000_000


def text_gopher_multiscript(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L61 (r9, VERDICT r8 #7): the Gopher rule family ROUTED per
    predicted language — the Dolma/FineWeb-2 practice the L60
    docstring cites, now executable instead of documented. The L47
    rules are defined over whitespace tokens (Gopher is
    English-only); on Thai/Chinese/Japanese a whole sentence is one
    "word", so the unrouted word-count gate flags every such
    document. Routing, per rule:

    - word count: unsegmented scripts (lang_id ∈ th/zh/ja) measure
      length in token_count_mixed (grapheme-safe per-character
      accounting); segmented text keeps whitespace words. Same
      [15, 10000] band — the planted Thai/zh/ja documents PASS here
      and would all fail under whitespace counting (their n_ws is a
      handful), which is the point of the exercise.
    - mean word length: a whitespace-word statistic with no analog
      in scriptio continua — not applicable (passes) for unsegmented
      docs, the [3, 10] band otherwise.
    - alpha fraction → script fraction: unsegmented docs gate on
      unsegmented-script chars covering ≥ half the non-whitespace
      chars (the lang_id dominance mass); segmented docs keep the
      ≥ 0.8 [a-z]-word fraction.
    - stopword diversity: routed through the PREDICTED language's
      lexicon (en/es/de/fr); languages without a lexicon here
      (th/zh/ja/ko/ru/ar/und) pass — the production hook is handing
      each its own list.

    Input = a corpus slice (Latin path) ∪ the planted multiscript
    docs with synthetic ids. Map-only codegen; full-replication
    DuckDB oracle (every count is exact integers)."""
    docs = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 60)
        .select("doc_id", "text")
    )
    from etl_npl_pipeline_spark.functions.localrel import small_report_df

    planted = small_report_df(
        spark,
        [
            (GOPHER_MS_PLANT_BASE + i, text)
            for i, (_lang, text) in enumerate(PLANTED_LANG_DOCS)
        ],
        "doc_id long, text string",
    )
    staged = T.with_lang_id(
        docs.unionByName(planted), "text", out="predicted"
    )
    toks = T.tokens("text")
    n_ws = F.size(toks)
    n_mixed = T.token_count_mixed("text")
    unseg = F.col("predicted").isin("th", "zh", "ja")
    eff = F.when(unseg, n_mixed).otherwise(n_ws)
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    mean_wl = F.when(
        n_ws > 0, F.round(sum_len.cast("double") / n_ws, 6)
    ).otherwise(F.lit(0.0))
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    n_unseg_chars = T._class_count(F.col("text"), T.UNSEGMENTED)
    n_nonspace = F.length(
        F.regexp_replace(F.col("text"), f"[{T.WS_CLASS}]", "")
    )
    stop_d = {
        lang: F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(*[F.lit(w) for w in T.LANG_STOPWORDS[lang]]),
            )
        )
        for lang in T.LANG_STOPWORDS
    }
    r_wc = (eff >= 15) & (eff <= 10_000)
    r_mwl = unseg | ((mean_wl >= 3.0) & (mean_wl <= 10.0))
    r_script = F.when(
        unseg, n_unseg_chars * 2 >= n_nonspace
    ).otherwise(alpha_words * 10 >= n_ws * 8)
    r_stop = (
        F.when(F.col("predicted") == "en", stop_d["en"] >= 2)
        .when(F.col("predicted") == "es", stop_d["es"] >= 2)
        .when(F.col("predicted") == "de", stop_d["de"] >= 2)
        .when(F.col("predicted") == "fr", stop_d["fr"] >= 2)
        .otherwise(F.lit(True))
    )
    return staged.select(
        "doc_id",
        "predicted",
        n_ws.cast("int").alias("n_words_ws"),
        eff.cast("int").alias("n_tokens_routed"),
        r_wc.cast("int").alias("rule_word_count"),
        r_mwl.cast("int").alias("rule_mean_word_len"),
        r_script.cast("int").alias("rule_script_frac"),
        r_stop.cast("int").alias("rule_stopwords"),
        (r_wc & r_mwl & r_script & r_stop).cast("int").alias("passes"),
    ).orderBy("doc_id")


def _planted_values_ids_sql() -> str:
    return ",\n           ".join(
        "({}, '{}')".format(
            GOPHER_MS_PLANT_BASE + i, text.replace("'", "''")
        )
        for i, (_lang, text) in enumerate(PLANTED_LANG_DOCS)
    )


TEXT_GOPHER_MULTISCRIPT_SQL = f"""
WITH unioned AS (
    SELECT doc_id, text FROM documents WHERE doc_id < 60
    UNION ALL
    SELECT * FROM (VALUES {_planted_values_ids_sql()}) AS p(doc_id, text)
), scores AS (
    SELECT doc_id, text,
           {_LANG_SCORES_SQL},
           {_TOK_MIXED_SQL} AS n_mixed,
           {_TOKS} AS toks
    FROM unioned
), step AS (
    SELECT doc_id, toks, n_mixed,
           {_LANGID_CASE_SQL} AS predicted,
           len(toks) AS n_ws,
           c_th + c_cjk AS n_unseg_chars,
           n_nonspace,
           list_aggregate(list_transform(toks, x -> len(x)), 'sum')
               AS sum_len,
           len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               AS alpha_words,
           len(list_intersect(list_distinct(toks), {_STOP_EN})) AS d_en,
           len(list_intersect(list_distinct(toks), {_STOP_ES})) AS d_es,
           len(list_intersect(list_distinct(toks), {_STOP_DE})) AS d_de,
           len(list_intersect(list_distinct(toks), {_STOP_FR})) AS d_fr
    FROM scores
), m AS (
    SELECT doc_id, predicted, n_ws, n_mixed,
           predicted IN ('th', 'zh', 'ja') AS unseg,
           CASE WHEN predicted IN ('th', 'zh', 'ja') THEN n_mixed
                ELSE n_ws END AS eff,
           CASE WHEN n_ws > 0
                THEN ROUND(CAST(sum_len AS DOUBLE) / n_ws, 6)
                ELSE 0.0 END AS mean_wl,
           n_unseg_chars, n_nonspace, alpha_words,
           d_en, d_es, d_de, d_fr
    FROM step
), r AS (
    SELECT doc_id, predicted, n_ws, eff,
           (eff >= 15 AND eff <= 10000) AS r_wc,
           (unseg OR (mean_wl >= 3.0 AND mean_wl <= 10.0)) AS r_mwl,
           (CASE WHEN unseg THEN n_unseg_chars * 2 >= n_nonspace
                 ELSE alpha_words * 10 >= n_ws * 8 END) AS r_script,
           (CASE WHEN predicted = 'en' THEN d_en >= 2
                 WHEN predicted = 'es' THEN d_es >= 2
                 WHEN predicted = 'de' THEN d_de >= 2
                 WHEN predicted = 'fr' THEN d_fr >= 2
                 ELSE TRUE END) AS r_stop
    FROM m
)
SELECT doc_id, predicted,
       CAST(n_ws AS INT) AS n_words_ws,
       CAST(eff AS INT) AS n_tokens_routed,
       CAST(r_wc AS INT) AS rule_word_count,
       CAST(r_mwl AS INT) AS rule_mean_word_len,
       CAST(r_script AS INT) AS rule_script_frac,
       CAST(r_stop AS INT) AS rule_stopwords,
       CAST(r_wc AND r_mwl AND r_script AND r_stop AS INT) AS passes
FROM r ORDER BY doc_id
"""


# --- L55: intra-document chunk filtering (line-level cleaning) -----

CHUNK_WORDS = 20


def text_chunk_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L55: FineWeb/C4-style INTRA-document cleaning — documents are
    not kept or dropped whole; their low-quality spans are cut and
    the survivors reassembled. Here the unit is a 20-word chunk and
    the gate is "contains at least one en stopword" (the C4
    terminal-punctuation rule's analog for this corpus): chunks with
    no function words are boilerplate/menu debris. Emits the
    reassembled text's length + fingerprint and the kept/total chunk
    counts, so the oracle pins the exact reconstruction, not just
    the counts.

    Scale shape: map-only — slice the token array on the chunk
    lattice (F.sequence), filter chunks with a HOF exists(), flatten
    and rejoin; one codegen stage, no shuffle, no UDF."""
    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 250)
    toks = T.tokens("text")
    n_chunks = F.ceil(F.size(toks) / F.lit(CHUNK_WORDS)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * CHUNK_WORDS + 1, CHUNK_WORDS),
    )
    stop_arr = F.array(*[F.lit(w) for w in T.LANG_STOPWORDS["en"]])
    kept = F.filter(
        chunks,
        lambda ch: F.exists(ch, lambda t: F.array_contains(stop_arr, t)),
    )
    cleaned = F.array_join(F.flatten(kept), " ")
    return docs.select(
        "doc_id",
        n_chunks.alias("n_chunks"),
        F.size(kept).alias("n_kept"),
        F.length(cleaned).alias("clean_len"),
        F.md5(cleaned).alias("clean_md5"),
    ).orderBy("doc_id")


TEXT_CHUNK_FILTER_SQL = f"""
WITH t AS (
    SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id < 250
), c AS (
    SELECT doc_id,
           CAST(ceil(len(toks) / 20.0) AS INT) AS n_chunks,
           list_filter(
               list_transform(range(0, CAST(ceil(len(toks)/20.0) AS INT)),
                   i -> list_slice(toks, i*20 + 1, i*20 + 20)),
               ch -> len(list_filter(ch,
                         t -> list_contains({_STOP_EN}, t))) > 0
           ) AS kept
    FROM t
)
SELECT doc_id, n_chunks,
       CAST(len(kept) AS INT) AS n_kept,
       -- flatten([]) is NULL in DuckDB (Spark's flatten of an empty
       -- array is []); coalesce so the zero-kept doc reassembles to
       -- the empty string on both engines. The kept IS NULL guard
       -- keeps that coalesce from ALSO swallowing null-text docs,
       -- which must stay NULL end to end (engine contract)
       CASE WHEN kept IS NULL THEN NULL ELSE
       CAST(len(COALESCE(array_to_string(flatten(kept), ' '), ''))
            AS INT) END AS clean_len,
       CASE WHEN kept IS NULL THEN NULL ELSE
       md5(COALESCE(array_to_string(flatten(kept), ' '), ''))
       END AS clean_md5
FROM c ORDER BY doc_id
"""


# --- L56: deterministic shard assignment + balance manifest --------

N_SHARDS = 32


def data_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L56: the last stage of every training-data pipeline — assign
    each document to one of N fixed output shards deterministically
    (md5-mod, never rand(): retries, engines, and re-runs agree) and
    emit the shard MANIFEST: doc count + byte mass per shard, plus
    each shard's min/max doc id for reproducible loader bookkeeping.
    Balanced shards are what keep 1000 data-loader workers evenly
    fed; the manifest is how you detect a skewed shard before
    training does.

    Scale shape: map-only shard assignment (codegen md5 arithmetic)
    + ONE groupBy on the shard key (exact integer sums, map-side
    partials). The write itself is `partitionBy(shard)` on this same
    frame; the manifest is its audit twin."""
    docs = _docs(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                    16, 10).cast("long")
    shard = (bucket % F.lit(N_SHARDS)).cast("int")
    return (
        docs.select(
            shard.alias("shard"),
            "doc_id",
            F.length("text").alias("nb"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nb").alias("bytes"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


DATA_SHARD_MANIFEST_SQL = f"""
WITH s AS (
    SELECT CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % {N_SHARDS} AS INT) AS shard,
           doc_id, len(text) AS nb
    FROM documents
)
SELECT shard, COUNT(*) AS n_docs,
       CAST(SUM(nb) AS BIGINT) AS bytes,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM s GROUP BY shard ORDER BY shard
"""


# --- L57: positional phrase search (posting-list intersection) -----

def search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L57: exact phrase search the way an index serves it — only
    the PHRASE TERMS' positional postings move, never the corpus:
    postings (doc, pos) for each of the three words are intersected
    with position arithmetic (pos+1, pos+2). BM25 (L32) ranks bags
    of words; this is the complementary primitive for quoted
    queries, contamination lookups, and span attribution.

    The phrase is self-anchoring: the corpus' globally most frequent
    word trigram (deterministic top-1, ties broken by string), so
    the query keeps returning non-trivial matches across testdata
    regenerations. Scale shape: trigram top-1 is one count shuffle +
    TakeOrderedAndProject; the postings for the 3 chosen terms are
    filtered BEFORE any shuffle (in-list pushdown vs the broadcast
    phrase row), so the intersection joins move O(postings of 3
    terms), not O(corpus)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("pos", "term")
    )
    tri = (
        docs.select(
            F.explode(D.word_shingles("text", 3)).alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("trigram"))
        .limit(1)
        .select(F.split("trigram", " ").alias("ws"), "trigram")
    )
    phrase = tri.select(
        F.struct(
            F.col("ws")[0].alias("w1"),
            F.col("ws")[1].alias("w2"),
            F.col("ws")[2].alias("w3"),
            "trigram",
        ).alias("s")
    )
    p = toks.withColumn("ph", phrase.scalar())
    p1 = p.where(F.col("term") == F.col("ph.w1")).select(
        "doc_id",
        F.col("pos").alias("pos1"),
        F.col("ph.trigram").alias("trigram"),
    )
    p2 = p.where(F.col("term") == F.col("ph.w2")).select(
        "doc_id", F.col("pos").alias("pos2")
    )
    p3 = p.where(F.col("term") == F.col("ph.w3")).select(
        "doc_id", F.col("pos").alias("pos3")
    )
    hits = (
        p1.join(p2, "doc_id")
        .where(F.col("pos2") == F.col("pos1") + 1)
        .join(p3, "doc_id")
        .where(F.col("pos3") == F.col("pos1") + 2)
        .select("doc_id", "trigram")
        .distinct()
    )
    return hits.groupBy(F.col("trigram").alias("phrase")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


SEARCH_PHRASE_SQL = f"""
WITH t AS (
    SELECT doc_id, {_TOKS} AS toks FROM documents
), tri AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, len(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           ))) AS trigram
    FROM t
), top1 AS (
    -- word_shingles is DISTINCT per doc on the Spark side, so the
    -- top-1 is by DOCUMENT frequency (same CTE, same semantics)
    SELECT trigram FROM tri
    GROUP BY trigram ORDER BY COUNT(*) DESC, trigram LIMIT 1
)
SELECT trigram AS phrase, COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM tri WHERE trigram = (SELECT trigram FROM top1)
GROUP BY trigram
"""


# --- L69: hybrid retrieval via reciprocal rank fusion -------------

RRF_K = 60
RRF_DEPTH = 20
RRF_TOP = 10


def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval fused with Reciprocal Rank
    Fusion (Cormack et al. 2009): each retriever contributes
    1/(RRF_K + rank) for the docs in its top-``RRF_DEPTH`` list, and
    the fused score is the sum — the standard way hybrid search
    engines (Elastic, Vespa, OpenSearch) combine BM25 with a vector
    index without score calibration.

    Scale shape — the whole point of RRF is that fusion happens on
    the CANDIDATE LISTS, never the corpus:
    - lexical list = ``search_bm25``'s plan unchanged (one tf
      shuffle, TakeOrderedAndProject top-N);
    - dense list = map-only cosine vs the broadcast query vector,
      then TakeOrderedAndProject (map-side partial top-N, no global
      sort; at 100 TB this is the scan-bound stage, and it prunes
      to two columns);
    - both lists are <= RRF_DEPTH rows -> the rank windows and the
      full-outer fusion join run on driver-trivial data, planned as
      a single tiny stage.
    Ranks are assigned on the 6-dp ROUNDED retriever scores with
    doc_id as total-order tie-break (the engine-stable top-k
    contract), so rank — and therefore the fused score, a rational
    in the ranks — is integer-deterministic; the fused score is
    rounded to 9 only for display.
    """
    from pyspark.sql import Window

    lex = (
        search_bm25(spark, sf_dir)
        .select("doc_id", "score")
        .withColumn(
            "lex_rank",
            F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc("doc_id"))
            ),
        )
        .where(F.col("lex_rank") <= RRF_DEPTH)
        .select("doc_id", "lex_rank")
    )
    emb = _emb(spark, sf_dir)
    qv = emb.where(F.col("vec_id") == RAG_QUERY_VEC).select(
        S.l2_normalize(F.col("embedding")).alias("qv")
    )
    dense_scored = (
        emb.where(F.col("vec_id") != RAG_QUERY_VEC)
        .select(
            F.col("vec_id").alias("doc_id"),
            S.l2_normalize(F.col("embedding")).alias("nv"),
        )
        .withColumn("qv", qv.scalar())
        .select(
            "doc_id",
            # JVM-side left-to-right fold (S.dot): no Python round
            # trip, and the oracle's exact FP fold order
            F.round(S.dot(F.col("nv"), F.col("qv")), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(RRF_DEPTH)
    )
    dense = dense_scored.withColumn(
        "dense_rank",
        F.row_number().over(
            Window.orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        ),
    ).select("doc_id", "dense_rank")
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            F.round(
                F.coalesce(
                    1.0 / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
                )
                + F.coalesce(
                    1.0 / (F.lit(RRF_K) + F.col("dense_rank")), F.lit(0.0)
                ),
                9,
            ).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(RRF_TOP)
    )
    return fused


SEARCH_HYBRID_RRF_SQL = f"""
WITH bm AS ({SEARCH_BM25_SQL}),
lex AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS lex_rank
    FROM bm
    QUALIFY lex_rank <= {RRF_DEPTH}
),
nrm AS ({_SQL_NORMED}),
qv AS (SELECT nv FROM nrm WHERE vec_id = {RAG_QUERY_VEC}),
dense_scored AS (
    SELECT c.vec_id AS doc_id,
           ROUND({_SQL_NDOT.format(a="c.nv", b="qv.nv")}, 6) AS cos_sim
    FROM nrm c CROSS JOIN qv
    WHERE c.vec_id <> {RAG_QUERY_VEC}
    ORDER BY cos_sim DESC, doc_id LIMIT {RRF_DEPTH}
),
dense AS (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS dense_rank
    FROM dense_scored
)
SELECT COALESCE(lex.doc_id, dense.doc_id) AS doc_id,
       lex_rank, dense_rank,
       ROUND(COALESCE(1.0 / ({RRF_K} + lex_rank), 0)
             + COALESCE(1.0 / ({RRF_K} + dense_rank), 0), 9) AS rrf_score
FROM lex FULL OUTER JOIN dense USING (doc_id)
ORDER BY rrf_score DESC, doc_id LIMIT {RRF_TOP}
"""


# --- L70: exact stratified sampling -------------------------------

STRAT_N_PER = 5


def data_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sampling: the first ``STRAT_N_PER`` docs per
    (source, lang) stratum in md5(doc_id) hash order — the
    evaluation-set / human-review draw of a curation pipeline.
    ``df.sampleBy`` gives per-stratum Bernoulli FRACTIONS (count
    varies run to run); training-data audits need exact-N,
    deterministic, engine-independent draws, so the rank is a
    row_number over the content hash (the ``data_split`` doctrine:
    never rand(), a retry must not redraw the sample).

    One shuffle total: the window's hash partition by stratum
    assigns rank AND the stratum count in the same exchange, and the
    per-stratum aggregate that follows reuses the partitioning
    (Catalyst plans no second exchange). Skewed strata don't break
    it — rank is a streaming window (sort-based, spillable), and the
    output is one row per stratum. ``sample_id_sum`` pins WHICH rows
    were drawn, not just how many.
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source", "lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    wc = Window.partitionBy("source", "lang")
    ranked = docs.select(
        "source",
        "lang",
        "doc_id",
        "n_chars",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(wc).alias("n_total"),
    )
    return (
        ranked.where(F.col("r") <= STRAT_N_PER)
        .groupBy("source", "lang")
        .agg(
            F.max("n_total").alias("n_total"),
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("chars_sampled"),
            F.sum("doc_id").alias("sample_id_sum"),
        )
        .orderBy("source", "lang")
    )


DATA_STRATIFIED_SAMPLE_SQL = f"""
WITH ranked AS (
    SELECT source, lang, doc_id, n_chars,
           ROW_NUMBER() OVER (
               PARTITION BY source, lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS r,
           COUNT(*) OVER (PARTITION BY source, lang) AS n_total
    FROM documents
)
SELECT source, lang,
       MAX(n_total) AS n_total,
       COUNT(*) AS n_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS chars_sampled,
       CAST(SUM(doc_id) AS BIGINT) AS sample_id_sum
FROM ranked WHERE r <= {STRAT_N_PER}
GROUP BY source, lang ORDER BY source, lang
"""


# --- L71: PCA top component via power iteration -------------------

PCA_DIM = 64
PCA_ITERS = 12


def emb_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading principal component of the embedding corpus + the
    per-label projection report — the embedding-drift / anisotropy
    probe of a curation pipeline (a collapsed dominant direction is
    the classic symptom of degenerate embeddings; per-label mean
    projections show which slices sit where along it).

    Three stages, sized for 100 TB:
    1. DISTRIBUTED second moments: ONE Arrow ``mapInPandas`` pass
       emits per-partition upper-triangle ``X.T @ X`` partials plus
       per-dim column sums as long-form (i, j, s, n) rows — the
       r11 rewrite of the first cut's 2,080-struct interpreted HOF
       pair explode (sublinear in bytes but compute-bound: Catalyst
       evaluates lambda HOFs interpreted, per element). numpy does
       the d^2 work vectorized per batch; the shuffle carries
       O(d^2 * partitions) partial sums, never rows. Products are
       float64 (matching the oracle's v::DOUBLE[] products); the
       6-dp covariance round absorbs partial-merge order, exactly
       as it absorbed the HOF path's float32 products.
    2. DRIVER eigensolve — a model artifact, the ivf/pq-codebook
       pattern: covariance C = (S - N mu_i mu_j)/(N-1) (ROUNDed to
       6dp — the determinism contract: both engines eigen-solve the
       SAME rounded matrix), then PCA_ITERS fixed power-iteration
       steps from v0 = 1/sqrt(d), each iterate rounded to 9dp, sign
       fixed by the largest-|loading| dim (ties -> lowest dim).
       Fixed iteration count, not a convergence test: the output is
       "the 12th iterate", a well-defined value both engines reach
       bit-identically, regardless of spectral gap.
    3. DISTRIBUTED projection: the component ships back as a literal
       array; proj = left-to-right JVM dot fold, aggregated per
       label. The oracle re-derives the component INDEPENDENTLY from
       its own unrolled CTE chain and re-projects — full value-hash
       parity on an iterative linear-algebra pipeline.

    Empty/degenerate inputs: N < 2 returns the empty relation (no
    covariance exists), matching the oracle's WHERE n >= 2 guard.
    """
    import numpy as np

    emb = _emb(spark, sf_dir)
    d = PCA_DIM
    v = F.col("embedding")

    def _moment_partials(batches):
        # per-PARTITION accumulator: one (d*(d+1)/2 + d)-row emit
        # per task, however many Arrow batches stream through it
        import pandas as pd

        S = np.zeros((d, d))
        col = np.zeros(d)
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            S += X.T @ X
            col += X.sum(axis=0)
            n += X.shape[0]
        if n:
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    # j = -1 rows carry the per-dim column sums for
                    # the mean pass — same long-form relation, one
                    # scan for both moments
                    "i": np.concatenate([iu, np.arange(d)]),
                    "j": np.concatenate([ju, np.full(d, -1)]),
                    "s": np.concatenate([S[iu, ju], col]),
                    "n": np.full(d * (d + 1) // 2 + d, n, dtype=np.int64),
                }
            )

    partials = (
        _spread(spark, emb.select("embedding"))
        .mapInPandas(_moment_partials, "i int, j int, s double, n long")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    moments = [r for r in partials if r["j"] >= 0]
    sums = [{"i": r["i"], "sx": r["s"]} for r in partials if r["j"] == -1]
    if not moments or moments[0]["n"] < 2:
        return spark.createDataFrame(
            [],
            "label int, n_vecs bigint, mean_proj double, "
            "eigenvalue double, explained_ratio double",
        )
    n = moments[0]["n"]
    mu = np.zeros(d)
    for r in sums:
        mu[r["i"]] = r["sx"] / n
    C = np.zeros((d, d))
    for r in moments:
        cij = round((r["s"] - n * mu[r["i"]] * mu[r["j"]]) / (n - 1), 6)
        C[r["i"], r["j"]] = cij
        C[r["j"], r["i"]] = cij
    vec = np.full(d, 1.0 / np.sqrt(d))
    for _ in range(PCA_ITERS):
        w = np.round(C @ vec, 9)
        s = float(np.sqrt(np.sum(w * w)))
        vec = np.round(w / (s if s != 0.0 else 1.0), 9)
    # sign fix: the largest-|loading| dim (lowest dim on ties) points
    # positive — same rule in the oracle's flip CTE
    top = min(range(d), key=lambda i: (-abs(vec[i]), i))
    if vec[top] < 0:
        vec = -vec
    lam = round(float(vec @ C @ vec), 6)
    trace = float(np.trace(C))
    explained = round(lam / trace, 6) if trace else 0.0
    lit_v = F.array(*[F.lit(float(x)) for x in vec])
    return (
        emb.select(
            "label",
            F.round(S.dot(v, lit_v), 6).alias("proj"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("proj"), 6).alias("mean_proj"),
        )
        .select(
            "label",
            "n_vecs",
            "mean_proj",
            F.lit(lam).alias("eigenvalue"),
            F.lit(explained).alias("explained_ratio"),
        )
        .orderBy("label")
    )


def _pca_oracle_sql() -> str:
    d = PCA_DIM
    it_ctes = []
    prev = "v0"
    for k in range(1, PCA_ITERS + 1):
        it_ctes.append(
            f"""w{k} AS MATERIALIZED (
    SELECT cf.i, ROUND(SUM(cf.c * p.x), 9) AS x
    FROM cfull cf JOIN {prev} p ON cf.j = p.i GROUP BY cf.i
), v{k} AS MATERIALIZED (
    SELECT i, ROUND(x / (CASE WHEN s = 0 THEN 1 ELSE s END), 9) AS x
    FROM w{k} CROSS JOIN (SELECT sqrt(SUM(x * x)) AS s FROM w{k})
)"""
        )
        prev = f"v{k}"
    its = ",\n".join(it_ctes)
    return f"""
WITH e AS MATERIALIZED (
    SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), nn AS (SELECT COUNT(*) AS n FROM e),
dims AS (SELECT unnest(range(1, {d + 1})) AS i),
mu AS (
    SELECT i, SUM(v[i]) / MAX(n) AS m
    FROM e CROSS JOIN dims CROSS JOIN nn GROUP BY i
),
cov AS MATERIALIZED (
    SELECT di.i AS i, dj.i AS j,
           ROUND((SUM(e.v[di.i] * e.v[dj.i])
                  - MAX(nn.n) * MAX(mi.m) * MAX(mj.m))
                 / (MAX(nn.n) - 1), 6) AS c
    FROM e CROSS JOIN dims di CROSS JOIN dims dj
    JOIN mu mi ON mi.i = di.i JOIN mu mj ON mj.i = dj.i
    CROSS JOIN nn
    WHERE dj.i >= di.i AND nn.n >= 2
    GROUP BY di.i, dj.i
),
cfull AS MATERIALIZED (
    SELECT i, j, c FROM cov
    UNION ALL
    SELECT j AS i, i AS j, c FROM cov WHERE i < j
),
v0 AS (SELECT i, 1.0 / sqrt({d}.0) AS x FROM dims),
{its},
flip AS (
    SELECT CASE WHEN (
        SELECT x FROM v{PCA_ITERS} ORDER BY abs(x) DESC, i LIMIT 1
    ) < 0 THEN -1.0 ELSE 1.0 END AS s
),
vf AS (SELECT i, x * s AS x FROM v{PCA_ITERS} CROSS JOIN flip),
lam_ AS (
    -- Rayleigh quotient v'Cv replayed in the same index order as
    -- the driver's vec @ C @ vec (full matrix, arbitrary-order sum
    -- rounded to 6)
    SELECT ROUND(SUM(cf.c * vi.x * vj.x), 6) AS lam
    FROM cfull cf JOIN vf vi ON vi.i = cf.i JOIN vf vj ON vj.i = cf.j
),
tr AS (SELECT SUM(c) AS t FROM cov WHERE i = j),
vlist AS (
    -- the component as an ordered LIST so the projection replays
    -- Spark's left-to-right zip_with/aggregate fold bit-identically
    -- (arbitrary-order SUM flipped a 6dp rounding boundary at
    -- sf0.001, label 8)
    SELECT list(x ORDER BY i) AS xs FROM vf
),
proj AS (
    -- gated on n >= 2 like cov (r11 ADVICE: with exactly one
    -- embedding row cov is empty but an ungated proj still emits
    -- one NULL row per label while the engine returns the empty
    -- relation — both sides must agree on the n < 2 degenerate)
    SELECT e.vec_id, e.label,
           ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(range(1, {d + 1}), i -> e.v[i] * vl.xs[i])),
               (acc, t) -> acc + t), 6) AS p
    FROM e CROSS JOIN vlist vl CROSS JOIN nn
    WHERE nn.n >= 2
)
SELECT label, COUNT(*) AS n_vecs,
       ROUND(AVG(p), 6) AS mean_proj,
       (SELECT lam FROM lam_) AS eigenvalue,
       (SELECT ROUND(lam / t, 6) FROM lam_ CROSS JOIN tr) AS explained_ratio
FROM proj GROUP BY label ORDER BY label
"""


EMB_PCA_SQL = _pca_oracle_sql()


# --- L72: semi-supervised label propagation on the kNN graph ------

LP_K = 3
LP_ROUNDS = 3
LP_SEED_MOD = 5
# Yardstick fixture cap on vec_id (NOT row count): the sf1/sf10
# replication harnesses shift replica keys by i*1e6, so the cap must
# be an ID bound that admits every replica at sf<=1 (sf1 max vec_id
# 9_001_999 — a first draft of 20000 silently shrank the sf1 graph
# to replica 0, caught by a flat byte ratio) while still bounding
# the deliberate-quadratic exact kNN build at sf10+ (admits 20k of
# 200k vectors there — VERDICT r12 #2).
LP_YARDSTICK_CAP = 10_000_000


def graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L72: semi-supervised label propagation (Zhu & Ghahramani
    2002, synchronous hard-label variant) over the embedding kNN
    graph — the label-densification step of a curation pipeline
    (propagate scarce human labels to the unlabeled bulk along
    similarity edges), and the second composition proof for the
    chunked exact verifier: the GRAPH comes from
    ``brute_force_topk`` corpus-as-queries.

    Semantics: seeds (vec_id % LP_SEED_MOD == 0) keep their true
    label; each round every non-seed takes the majority label of its
    LP_K nearest neighbors' previous-round labels (count desc, label
    asc tie-break — integer-deterministic); nodes with no labeled
    neighbor stay unlabeled that round. LP_ROUNDS fixed synchronous
    rounds — the output is "round 3", well-defined on both engines.
    Returns the (true label x propagated label) confusion matrix
    with -1 for still-unlabeled — the label-quality report.

    Scale: the propagation rounds are bytes-linear (each is one
    co-keyed edge⋈labels join — edges 3N rows, labels N rows — plus
    a vote aggregate and an argmax window; the MLlib-iterative shape
    with a 3-round bound, no lineage growth worth checkpointing).
    The EXACT kNN graph build, however, is the chunked cogroup whose
    shuffle bytes measured ×46.9 at 10× data (sf1_top30) — this
    contract is therefore the accuracy YARDSTICK; the production
    path at scale is ``graph_label_prop_indexed`` below (r12,
    VERDICT r11 #1), which serves the same rounds from the persisted
    ANN index at O(N·cell) build cost.
    """
    emb = _emb(spark, sf_dir)
    # Yardstick-size gate (VERDICT r12 #2): the exact all-pairs kNN
    # build is the measured x46.9 scale-killer, kept ONLY as the
    # accuracy yardstick for L72b. The cap is a no-op through sf1
    # (20k vectors) and bounds the quadratic shape at sf10+, so a
    # routine scale probe can never accidentally run the full
    # corpus through it. Production path: graph_label_prop_indexed.
    emb = emb.where(F.col("vec_id") < LP_YARDSTICK_CAP)
    # corpus-as-queries: both sides are the same frame — one count
    # sizes both chunk axes (saves a second probe job, guide §1.4)
    n = emb.count()
    edges = S.brute_force_topk(
        emb, emb, k=LP_K, id_col="vec_id", vec_col="embedding",
        n_q_hint=n, n_c_hint=n,
    ).select(F.col("query_id").alias("dst"), F.col("neighbor_id").alias("src"))
    truth = emb.select("vec_id", F.col("label").alias("true_label"))
    return _lp_propagate(truth, edges)


def _lp_labels(truth: DataFrame, edges: DataFrame) -> DataFrame:
    """Final per-node labels after LP_ROUNDS synchronous rounds —
    (vec_id, lab) with lab NULL for still-unlabeled. Factored from
    _lp_propagate so the L72-vs-L72b accuracy grid
    (tools_lp_recall_grid.py) can compare NODE-level predictions
    between the exact and index-served graphs, not just the
    confusion rollup."""
    from pyspark.sql import Window

    seeds = F.col("vec_id") % LP_SEED_MOD == 0
    labels = truth.select(
        "vec_id",
        F.when(seeds, F.col("true_label")).alias("lab"),
    )
    w = Window.partitionBy("dst").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(LP_ROUNDS):
        votes = (
            edges.join(
                labels.select(F.col("vec_id").alias("src"), "lab"), "src"
            )
            .where(F.col("lab").isNotNull())
            .groupBy("dst", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("dst").alias("vec_id"), F.col("lab").alias("blab"))
        )
        labels = (
            truth.join(best, "vec_id", "left")
            .select(
                "vec_id",
                F.when(seeds, F.col("true_label"))
                .otherwise(F.col("blab"))
                .alias("lab"),
            )
        )
    return labels


def _lp_propagate(truth: DataFrame, edges: DataFrame) -> DataFrame:
    """The shared synchronous-propagation rounds + confusion-matrix
    report of L72/L72b — takes (vec_id, true_label) and a
    (dst, src) kNN edge set; only the GRAPH BUILD differs between
    the exact and the index-served contract."""
    labels = _lp_labels(truth, edges)
    return (
        truth.join(labels, "vec_id")
        .groupBy(
            "true_label",
            F.coalesce(F.col("lab"), F.lit(-1)).alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("true_label", "pred_label")
    )


def _lp_rounds_sql() -> str:
    """The shared propagation-round + confusion-report CTE tail —
    expects ``edges (dst, src)`` and ``truth (vec_id, true_label)``
    CTEs in the prologue (exact-kNN for L72, the planted-grid group
    graph for L72b)."""
    rounds = []
    prev = "lp0"
    for r in range(1, LP_ROUNDS + 1):
        rounds.append(
            f"""votes{r} AS MATERIALIZED (
    SELECT e.dst, l.lab, COUNT(*) AS c
    FROM edges e JOIN {prev} l ON l.vec_id = e.src
    WHERE l.lab IS NOT NULL GROUP BY e.dst, l.lab
), best{r} AS MATERIALIZED (
    SELECT dst, lab FROM (
        SELECT dst, lab, ROW_NUMBER() OVER (
            PARTITION BY dst ORDER BY c DESC, lab ASC
        ) AS rn FROM votes{r}
    ) WHERE rn = 1
), lp{r} AS MATERIALIZED (
    SELECT t.vec_id,
           CASE WHEN t.vec_id % {LP_SEED_MOD} = 0 THEN t.true_label
                ELSE b.lab END AS lab
    FROM truth t LEFT JOIN best{r} b ON b.dst = t.vec_id
)"""
        )
        prev = f"lp{r}"
    its = ",\n".join(rounds)
    return f"""lp0 AS MATERIALIZED (
    SELECT vec_id,
           CASE WHEN vec_id % {LP_SEED_MOD} = 0 THEN true_label END AS lab
    FROM truth
),
{its}
SELECT t.true_label,
       COALESCE(l.lab, -1) AS pred_label,
       COUNT(*) AS n
FROM truth t JOIN lp{LP_ROUNDS} l ON l.vec_id = t.vec_id
GROUP BY t.true_label, COALESCE(l.lab, -1)
ORDER BY true_label, pred_label
"""


def _label_prop_oracle_sql() -> str:
    return f"""
WITH nrm AS MATERIALIZED (
    SELECT * FROM ({_SQL_NORMED}) WHERE vec_id < {LP_YARDSTICK_CAP}
),
sims AS MATERIALIZED (
    SELECT q.vec_id AS dst, c.vec_id AS src,
           {_SQL_NDOT.format(a="q.nv", b="c.nv")} AS cos_sim
    FROM nrm q JOIN nrm c ON q.vec_id != c.vec_id
),
edges AS MATERIALIZED (
    SELECT dst, src FROM (
        SELECT dst, src, ROW_NUMBER() OVER (
            PARTITION BY dst ORDER BY cos_sim DESC, src ASC
        ) AS rank FROM sims
    ) WHERE rank <= {LP_K}
),
truth AS MATERIALIZED (
    SELECT vec_id, label AS true_label FROM embeddings
    WHERE vec_id < {LP_YARDSTICK_CAP}
),
{_lp_rounds_sql()}"""


GRAPH_LABEL_PROP_SQL = _label_prop_oracle_sql()


# --- L72b: label propagation served from the persisted ANN index ---

LP_GRID_COPIES = 4
LP_GRID_STRIDE = 8


def _lp_grid_served(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(corpus, served): the PLANTED-GRID corpus — LP_GRID_COPIES
    exact copies of every embedding at ids vec_id*LP_GRID_STRIDE + j
    — and its kNN served by ``ivf_query`` (n_probe=1) from the
    persisted index of the grid, n_clusters = ceil(n /
    SEMDEDUP_TARGET_CELL). Deterministic oracle on an approximate
    index (the ann_semantic_sweep argument): exact copies are
    assigned by the frozen quantizer to the SAME cell (identical
    input → identical argmin), each copy's own cell is its n_probe=1
    probe, and cos = 1.0 against its group beats every cross-group
    score, so with k = LP_GRID_COPIES - 1 the served kNN graph IS the
    complete within-group graph — exact kNN, derivable by id
    arithmetic alone, which is what the DuckDB oracles replay
    (tests/test_label_prop_indexed.py additionally pins served edges
    == brute-force edges on this fixture)."""
    from etl_npl_pipeline_spark.operators.ann_index import ivf_query

    emb = _emb(spark, sf_dir)
    corpus = emb.select(
        "vec_id",
        "embedding",
        "label",
        F.explode(
            F.sequence(F.lit(0), F.lit(LP_GRID_COPIES - 1))
        ).alias("j"),
    ).select(
        (F.col("vec_id") * LP_GRID_STRIDE + F.col("j")).alias("vec_id"),
        "embedding",
        "label",
    )
    n = emb.count()
    idx = _ann_index(
        spark, sf_dir, corpus, "#lp-grid", _cells_for(n * LP_GRID_COPIES)
    )
    served = ivf_query(
        spark,
        idx,
        corpus,
        k=LP_GRID_COPIES - 1,
        n_probe=1,
        # known corpus-as-queries size: skips the bounded size-probe
        # job, which would re-execute the exploded-grid plan
        n_queries_hint=n * LP_GRID_COPIES,
    )
    return corpus, served


def graph_label_prop_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L72b (r12, VERDICT r11 #1 — the one measured scale-killer):
    the SAME synchronous label-propagation rounds as L72, but the
    kNN graph is served from the persisted IVF index
    (operators/ann_index.ivf_query, n_probe=1) instead of the exact
    chunked cogroup whose shuffle bytes measured ×46.9 at 10× data.
    Per-query graph-build work is O(cell size) — cells stay bounded
    because n_clusters scales as ceil(n / SEMDEDUP_TARGET_CELL), the
    ann_semantic_sweep doctrine — so edge construction is
    bytes-linear in the corpus.

    The graph runs over the planted grid (``_lp_grid_served``), where
    the served kNN graph is exact. Seeds (id % LP_SEED_MOD) land in 4
    of 5 groups by residue arithmetic, so the report shows both
    converged groups (diagonal) and unreachable ones (-1) — the real
    shape of a label-densification readout."""
    corpus, served = _lp_grid_served(spark, sf_dir)
    edges = served.select(
        F.col("query_id").alias("dst"), F.col("neighbor_id").alias("src")
    )
    truth = corpus.select("vec_id", F.col("label").alias("true_label"))
    return _lp_propagate(truth, edges)


def _label_prop_indexed_oracle_sql() -> str:
    js = ", ".join(f"({j})" for j in range(LP_GRID_COPIES))
    return f"""
WITH nodes AS MATERIALIZED (
    SELECT e.vec_id * {LP_GRID_STRIDE} + t.j AS vec_id,
           e.vec_id AS grp, e.label AS true_label
    FROM embeddings e CROSS JOIN (VALUES {js}) t(j)
),
edges AS MATERIALIZED (
    -- the planted-grid kNN truth: with k = copies-1 and cos = 1.0
    -- within a group of exact copies, every node's neighbor set is
    -- exactly the rest of its group
    SELECT a.vec_id AS dst, b.vec_id AS src
    FROM nodes a JOIN nodes b
      ON a.grp = b.grp AND a.vec_id != b.vec_id
),
truth AS MATERIALIZED (
    SELECT vec_id, true_label FROM nodes
),
{_lp_rounds_sql()}"""


GRAPH_LABEL_PROP_INDEXED_SQL = _label_prop_indexed_oracle_sql()


# --- L73: cross-document line-level boilerplate removal -----------

BP_MIN_FLOOR = 5
BP_MIN_FRAC = 0.02


def text_line_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L73: line-level boilerplate detection/removal — the C4/Dolma
    cleanup step that strips cookie banners and nav footers: a LINE
    that recurs across many distinct documents is template, not
    content. The fixture plants two footer lines on deterministic
    doc slices (the text_scrub pattern: doc_id % 3 -> footer A,
    doc_id % 5 -> footer B, both when both divide), and every
    original text participates as a candidate line too, so the
    doc-frequency pass runs over real data plus known planted truth.

    Spark shape: split('\\n') -> posexplode, line doc-frequency =
    one groupBy on the line text with a DISTINCT doc count (the
    line-key shuffle; at 100 TB this is the classic boilerplate-
    frequency job and the only data-sized exchange apart from the
    final per-doc rollup); boilerplate lines (df >= BP_MIN_DOCS)
    join back by line key — co-keyed, no broadcast of an unbounded
    set — and the per-doc report aggregates kept/stripped chars.
    Output: the per-doc rows that HAD boilerplate (doc_id < 200
    slice), with the cleaned char count proving the strip.
    """
    docs = _docs(spark, sf_dir)
    fa = F.lit("subscribe to our newsletter for updates")
    fb = F.lit("all rights reserved contact legal team")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("\n"), fa))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.lit("\n"), fb))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    lines = dirty.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n")).alias("ln", "line"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    thresh = F.greatest(
        F.lit(BP_MIN_FLOOR),
        F.floor(F.lit(BP_MIN_FRAC) * n_docs.scalar()).cast("int"),
    )
    dfreq = lines.groupBy("line").agg(
        F.countDistinct("doc_id").alias("line_df")
    )
    flagged = lines.join(dfreq, "line").select(
        "doc_id",
        "ln",
        F.length("line").alias("n_chars"),
        (F.col("line_df") >= thresh).cast("int").alias("is_bp"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("is_bp").alias("n_bp_lines"),
            F.sum(
                F.when(F.col("is_bp") == 0, F.col("n_chars")).otherwise(0)
            ).alias("clean_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
        .where((F.col("n_bp_lines") > 0) & (F.col("doc_id") < 200))
        .orderBy("doc_id")
    )


TEXT_LINE_BOILERPLATE_SQL = f"""
WITH dirty AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 3 = 0
              THEN chr(10) || 'subscribe to our newsletter for updates'
              ELSE '' END
           || CASE WHEN doc_id % 5 = 0
              THEN chr(10) || 'all rights reserved contact legal team'
              ELSE '' END AS text
    FROM documents
),
lines AS (
    SELECT doc_id, unnest(string_split(text, chr(10))) AS line
    FROM dirty
),
dfreq AS (
    SELECT line, COUNT(DISTINCT doc_id) AS line_df
    FROM lines GROUP BY line
),
flagged AS (
    SELECT l.doc_id, length(l.line) AS n_chars,
           CASE WHEN d.line_df >= GREATEST({BP_MIN_FLOOR},
                CAST(FLOOR({BP_MIN_FRAC} * (SELECT COUNT(*) FROM documents))
                     AS INT))
                THEN 1 ELSE 0 END AS is_bp
    FROM lines l JOIN dfreq d USING (line)
)
SELECT doc_id,
       COUNT(*) AS n_lines,
       CAST(SUM(is_bp) AS BIGINT) AS n_bp_lines,
       CAST(SUM(CASE WHEN is_bp = 0 THEN n_chars ELSE 0 END) AS BIGINT)
           AS clean_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM flagged
GROUP BY doc_id
HAVING SUM(is_bp) > 0 AND doc_id < 200
ORDER BY doc_id
"""


RP_OVERFETCH = 800


def ann_rp_candidates(
    spark: SparkSession, sf_dir: str, k: int = RP_OVERFETCH
) -> DataFrame:
    """The funnel's CANDIDATE stage: exact top-k search in the 16-d
    JL space, returning (query_id, neighbor_id) overfetch pairs.
    Shared by ann_rp_rerank and bench.py's candidate-recall metric
    so the published number measures exactly the stage the funnel
    runs."""
    emb = _emb(spark, sf_dir)
    proj = emb.select(
        "vec_id", _rp_project("embedding").alias("embedding")
    )
    pq = proj.where(F.col("vec_id") < ANN_N_QUERIES)
    return S.brute_force_topk(
        pq, proj, k=k, n_q_hint=ANN_N_QUERIES
    ).select("query_id", "neighbor_id")


def ann_rp_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L68b (r11): the COMPLETED project→search→exact-rerank funnel
    over the JL space. bench's first measurement of ann_rp_topk's
    compressed-space recall read 0.04 — and a sweep (16/24/32/48
    dims x 50-1600 overfetch) showed recall ~ candidate fraction at
    every setting: these synthetic vectors are near-isotropic with
    tiny neighbor gaps, so a ±1-sign projection has no geometry to
    prune (the r3 IVF lesson: "on structureless vectors recall ≈
    probed fraction"). The funnel is the architecture that survives
    that worst case: 16-d exact search OVERFETCHES top-800 (16% of
    this corpus — measured recall@5 0.90), then the true 64-d cosine
    reranks only the candidates. Exact-dot work drops ~6x vs full
    brute force; on real clustered embeddings the same funnel prunes
    far harder. Candidate generation is the chunked cogroup; the
    rerank joins candidates back to original vectors co-keyed and
    scores |Q| x 800 pairs with the JVM-side `dot` fold."""
    from pyspark.sql import Window

    emb = _emb(spark, sf_dir)
    cands = ann_rp_candidates(spark, sf_dir)
    qv = emb.where(F.col("vec_id") < ANN_N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        S.l2_normalize(F.col("embedding")).alias("qn"),
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        S.l2_normalize(F.col("embedding")).alias("cn"),
    )
    scored = (
        cands.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            S.dot(F.col("qn"), F.col("cn")).alias("cs"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cs"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= ANN_K)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round("cs", 6).alias("cos_sim"),
        )
        .orderBy("query_id", "rank")
    )


def _rp_rerank_sql() -> str:
    base = _rp_sql()
    # reuse the projected-space CTE chain but cut at RP_OVERFETCH,
    # then rerank with the exact 64-d fold
    cand_sql = base.replace(
        f"WHERE rank <= {ANN_K} ORDER BY query_id, rank",
        f"WHERE rank <= {RP_OVERFETCH}",
    ).strip()
    return f"""
WITH cand AS MATERIALIZED (
    SELECT query_id, neighbor_id FROM ({cand_sql})
),
o AS ({_SQL_NORMED}),
scored AS (
    SELECT cand.query_id, cand.neighbor_id,
           {_SQL_NDOT.format(a="q.nv", b="c.nv")} AS cs
    FROM cand
    JOIN o q ON q.vec_id = cand.query_id
    JOIN o c ON c.vec_id = cand.neighbor_id
),
rr AS (
    SELECT query_id, neighbor_id, cs,
           ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cs DESC, neighbor_id ASC
           ) AS rank
    FROM scored
)
SELECT query_id, rank, neighbor_id, ROUND(cs, 6) AS cos_sim
FROM rr WHERE rank <= {ANN_K} ORDER BY query_id, rank
"""


ANN_RP_RERANK_SQL = _rp_rerank_sql()


# --- L74: asymmetric containment dedup ----------------------------

CONTAINMENT_THRESHOLD = 0.9
SNIPPET_TOKENS = 25
# the suite-wide planted-id offset (r11 ADVICE: the first cut's
# +100000 collides with real doc_ids at sf>=2). NOT 1e6: the sf
# replication tools shift replica keys by i * 1e6, so a +1e6 offset
# maps replica i's snippets ONTO replica i+1's real ids (measured at
# sf1: the planted pair count halved). SEMDEDUP_PLANTED_OFFSET's 1e9
# is the sibling convention — clear of real ids through sf~10,000.
SNIPPET_ID_OFFSET = 1_000_000_000


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L74: snippet-inclusion near-dup detection via Broder
    CONTAINMENT — C(A→B) = |S(A)∩S(B)| / |S(A)| — the asymmetric
    measure Jaccard structurally misses: a 25-token quote fully
    inside a long source doc has C ≈ 1 but Jaccard ≈ 0.1, so it
    sails under every symmetric threshold (the Lee et al. 2022
    partial-overlap case). The fixture plants one snippet doc
    (first ``SNIPPET_TOKENS`` tokens, id + SNIPPET_ID_OFFSET) for
    every 11th document on top of the real corpus, so detection is
    measured
    against id-arithmetic truth while the posting machinery runs
    over the full real shingle distribution.

    Same single shingle-exchange shape as L4 (operators/dedup.py
    containment_pairs); output keeps both directions' containments
    so the consumer can tell quote-of from superset-of.
    """
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    snips = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + SNIPPET_ID_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, SNIPPET_TOKENS)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(snips)
    return D.containment_pairs(
        corpus,
        "text",
        "doc_id",
        n=3,
        threshold=CONTAINMENT_THRESHOLD,
        max_shingle_freq=MAX_SHINGLE_FREQ,
    ).orderBy("doc_a", "doc_b")


_SQL_SNIP_TOKS = r"regexp_split_to_array(trim(text), '\s+')"

DEDUP_CONTAINMENT_SQL = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {SNIPPET_ID_OFFSET} AS doc_id,
           array_to_string({_SQL_SNIP_TOKS}[1:{SNIPPET_TOKENS}], ' ') AS text
    FROM documents WHERE doc_id % 11 = 0
),
sh_all AS (
    SELECT doc_id AS doc,
           unnest(list_distinct(list_transform(
               range(1, len({_SQL_SNIP_TOKS}) - 1),
               i -> {_SQL_SNIP_TOKS}[i] || ' ' || {_SQL_SNIP_TOKS}[i+1]
                    || ' ' || {_SQL_SNIP_TOKS}[i+2]
           ))) AS shingle
    FROM corpus
),
freq AS (SELECT shingle, COUNT(*) AS df_ FROM sh_all GROUP BY shingle),
sh AS (
    SELECT doc, sh_all.shingle FROM sh_all
    JOIN freq ON sh_all.shingle = freq.shingle
    WHERE df_ <= {MAX_SHINGLE_FREQ}
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       ROUND(CAST(inter AS DOUBLE) / sa.n_sh, 6) AS cont_a,
       ROUND(CAST(inter AS DOUBLE) / sb.n_sh, 6) AS cont_b
FROM inter
JOIN sizes sa ON doc_a = sa.doc
JOIN sizes sb ON doc_b = sb.doc
WHERE GREATEST(ROUND(CAST(inter AS DOUBLE) / sa.n_sh, 6),
               ROUND(CAST(inter AS DOUBLE) / sb.n_sh, 6))
      >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# --- L74b: containment at sketch cost (bottom-k sample-and-probe) --

def dedup_containment_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L74b (r12, VERDICT r11 #6): the 100 TB path for containment —
    the bottom-k sample-and-probe sketch
    (operators/dedup.containment_bottomk_pairs): each doc probes only
    its k = BOTTOMK_K = 16 smallest md5-ordered shingles against the
    inverted index (probe volume k·N, independent of document
    length), estimates C(src→dst) = hits / min(k, |S|), and
    exact-verifies the survivors over the capped shingle sets. L74's
    all-postings join is the exactness yardstick; this is what runs
    on a crawl where documents are pages and snippets are quotes.

    Same planted fixture as L74 (snippet doc per 11th document at
    id + SNIPPET_ID_OFFSET): a fully contained snippet estimates
    exactly 1.0 — every sampled shingle of S(snippet) is in
    S(source) — so planted recall is 1.0 BY CONSTRUCTION, not by
    luck, and the sketch's only approximation (missing pairs whose
    true containment sits near the threshold) is measured against
    L74's exact output in tests/test_dedup_buckets.py. The oracle
    replays sampling, probe, cutoff, and verify — md5-hex sampling
    order is engine-portable."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    snips = docs.where(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + SNIPPET_ID_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, SNIPPET_TOKENS)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(snips)
    return D.containment_bottomk_pairs(
        corpus,
        "text",
        "doc_id",
        n=3,
        threshold=CONTAINMENT_THRESHOLD,
        k=D.BOTTOMK_K,
        max_shingle_freq=MAX_SHINGLE_FREQ,
    ).orderBy("doc_a", "doc_b")


def _containment_bottomk_sql() -> str:
    from etl_npl_pipeline_spark.operators.dedup import BOTTOMK_K

    return f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {SNIPPET_ID_OFFSET} AS doc_id,
           array_to_string({_SQL_SNIP_TOKS}[1:{SNIPPET_TOKENS}], ' ') AS text
    FROM documents WHERE doc_id % 11 = 0
),
sh_all AS (
    SELECT doc_id AS doc,
           unnest(list_distinct(list_transform(
               range(1, len({_SQL_SNIP_TOKS}) - 1),
               i -> {_SQL_SNIP_TOKS}[i] || ' ' || {_SQL_SNIP_TOKS}[i+1]
                    || ' ' || {_SQL_SNIP_TOKS}[i+2]
           ))) AS shingle
    FROM corpus
),
freq AS (SELECT shingle, COUNT(*) AS df_ FROM sh_all GROUP BY shingle),
sh AS MATERIALIZED (
    SELECT doc, sh_all.shingle FROM sh_all
    JOIN freq ON sh_all.shingle = freq.shingle
    WHERE df_ <= {MAX_SHINGLE_FREQ}
),
sizes AS (SELECT doc, COUNT(*) AS n_sh FROM sh GROUP BY doc),
probes AS (
    SELECT doc AS src, shingle FROM (
        SELECT doc, shingle, ROW_NUMBER() OVER (
            PARTITION BY doc ORDER BY md5(shingle) ASC, shingle ASC
        ) AS rn FROM sh
    ) WHERE rn <= {BOTTOMK_K}
),
hits AS (
    SELECT p.src, s.doc AS dst, COUNT(*) AS h
    FROM probes p JOIN sh s ON p.shingle = s.shingle AND p.src != s.doc
    GROUP BY 1, 2
),
cand AS (
    SELECT DISTINCT LEAST(src, dst) AS doc_a, GREATEST(src, dst) AS doc_b
    FROM hits JOIN sizes ON sizes.doc = hits.src
    WHERE CAST(h AS DOUBLE) / LEAST({BOTTOMK_K}, n_sh)
          >= {CONTAINMENT_THRESHOLD}
),
inter AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
    FROM cand c
    JOIN sh a ON a.doc = c.doc_a
    JOIN sh b ON b.doc = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter,
       ROUND(CAST(i.inter AS DOUBLE) / sa.n_sh, 6) AS cont_a,
       ROUND(CAST(i.inter AS DOUBLE) / sb.n_sh, 6) AS cont_b
FROM inter i
JOIN sizes sa ON i.doc_a = sa.doc
JOIN sizes sb ON i.doc_b = sb.doc
WHERE GREATEST(ROUND(CAST(i.inter AS DOUBLE) / sa.n_sh, 6),
               ROUND(CAST(i.inter AS DOUBLE) / sb.n_sh, 6))
      >= {CONTAINMENT_THRESHOLD}
ORDER BY doc_a, doc_b
"""


DEDUP_CONTAINMENT_BOTTOMK_SQL = _containment_bottomk_sql()


# --- L75: typed PII detection / redaction audit ---------------------

# Patterns restricted to the Java-regex ∩ RE2 dialect (char classes,
# bounded repetition, \b word boundaries — no lookaround, no
# backrefs) so Spark and the DuckDB oracle match the SAME spans.
# LIST ORDER IS THE REDACTION ORDER: card16 before thai_id (a 16-digit
# run must not be \b-split into a 13-digit candidate by an earlier
# pass), digit-run classes before the dashed/dotted ones, iban last
# (its long alnum tail cannot collide with the earlier tokens).
# thai_id's REGEX is only the candidate shape (any 13-digit run —
# redaction is deliberately conservative, over-redacting invalid
# runs); detection and residual additionally validate the Thai
# national-ID mod-11 checksum (d1*13+...+d12*2, check = (11 - x%11)
# % 10 == d13), so n_hits counts true IDs while chars_redacted
# reflects the conservative scrub.
PII_PATTERNS = [
    ("card16", r"\b[0-9]{16}\b"),
    ("thai_id", r"\b[0-9]{13}\b"),
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"),
    ("intl_phone", r"\+[0-9]{1,3}-[0-9]{1,2}-[0-9]{3,4}-[0-9]{4}\b"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("phone", r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"),
    ("iban", r"\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\b"),
]

# planted Thai-ID fixtures: same 12-digit prefix, one valid check
# digit and one off-by-one — the audit must count exactly the valid
# one while redacting both (checksum discrimination under test)
PII_THAI_VALID = "1101700230341"
PII_THAI_INVALID = "1101700230342"


def text_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L75 (r12): typed PII detection + redaction audit — the
    pre-training privacy pass every public corpus pipeline runs
    (C4 strips lines by badword/PII heuristics; BigCode/StarCoder
    redact emails/keys with typed placeholder tokens — the shape
    implemented here). Seven PII classes (16-digit card runs,
    checksum-validated Thai national IDs — the reference's Thai-
    finance domain, ETL-NPL-Pipeline.py's NPL ledgers are exactly
    the corpus such IDs leak into — emails, +country-code intl
    phones, IPv4s, US-dashed phones, IBAN-shaped accounts) are
    planted on deterministic doc slices (%7 email w/ doc_id-derived
    localpart, %9 TWO phone numbers, %11==3 IPv4, %13==5 card,
    %15==1 intl phone, %17==4 IBAN, %19==2 valid Thai ID, %23==6
    an INVALID-checksum 13-digit run that must be redacted but NOT
    counted) on top of the real text, then:

    - detected: per-class regexp_count over the dirty text
      (thai_id additionally validates the mod-11 checksum, so the
      %23 plant is excluded from n_hits/n_docs by construction);
    - redacted: each class replaced by its typed token in the FIXED
      PII_PATTERNS order (card16 before thai_id — digit runs must
      not be eaten as substrings by a later pass);
    - audited: per-class chars removed, measured SEQUENTIALLY on
      the intermediate each class actually saw (class i's delta is
      len(t_{i-1}) - len(strip(t_{i-1})), so spans matched by two
      classes are attributed once, to the class that redacted them,
      and sum(chars_redacted) == len(dirty) - len(all-stripped));
      residual_hits = re-running detection on the fully redacted
      text — the "did the scrub actually converge" gate a privacy
      review asks for (0 for planted classes by construction; both
      engines replay the same residue).

    Everything is map-only JVM regexp/higher-order-function codegen
    over one scan; the final per-class rollup aggregates 7 rows per
    doc via stack() — shuffle volume is O(7 x partitions) partials,
    never text. 100 TB = one pass, no exchange of document bytes.
    """
    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    dirty = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact agent"),
                did.cast("string"),
                F.lit("@mail.example for access"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 9 == 0, F.lit(" call 555-201-3344 or 555-201-3345 now")
        ).otherwise(F.lit("")),
        F.when(did % 11 == 3, F.lit(" node 10.2.30.44 unreachable")).otherwise(
            F.lit("")
        ),
        F.when(did % 13 == 5, F.lit(" card 4111222233334444 declined")).otherwise(
            F.lit("")
        ),
        F.when(
            did % 15 == 1, F.lit(" call +66-81-234-5678 urgently")
        ).otherwise(F.lit("")),
        F.when(
            did % 17 == 4, F.lit(" iban DE44500105175407324931 on file")
        ).otherwise(F.lit("")),
        F.when(
            did % 19 == 2, F.lit(f" citizen {PII_THAI_VALID} verified")
        ).otherwise(F.lit("")),
        F.when(
            did % 23 == 6, F.lit(f" ref {PII_THAI_INVALID} noted")
        ).otherwise(F.lit("")),
    )
    d = docs.select(did.alias("doc_id"), dirty.alias("t"))

    def _thai_count(col):
        # checksum-valid 13-digit runs: d1*13+..+d12*2, check digit
        # = (11 - x%11) % 10 — same fold in the DuckDB oracle
        cands = F.regexp_extract_all(col, F.lit(r"\b[0-9]{13}\b"), 0)
        return F.size(
            F.filter(
                cands,
                lambda c: (
                    F.lit(11)
                    - F.aggregate(
                        F.sequence(F.lit(1), F.lit(12)),
                        F.lit(0),
                        lambda acc, i: acc
                        + c.substr(i, F.lit(1)).cast("int")
                        * (F.lit(14) - i),
                    )
                    % 11
                )
                % 10
                == c.substr(F.lit(13), F.lit(1)).cast("int"),
            )
        )

    def _count(col_name, name, pat):
        col = F.col(col_name)
        if name == "thai_id":
            return _thai_count(col)
        return F.regexp_count(col, F.lit(pat))

    # sequential redaction: chars_{class} is measured on the
    # intermediate the class actually redacted (ADVICE r12 — spans
    # matched by two classes are attributed exactly once, so
    # sum(chars) == len(dirty) - len(fully stripped))
    prev = F.col("t")
    cols = []
    for name, pat in PII_PATTERNS:
        cols += [
            _count("t", name, pat).alias(f"cnt_{name}"),
            (
                F.length(prev) - F.length(F.regexp_replace(prev, pat, ""))
            ).alias(f"chars_{name}"),
        ]
        prev = F.regexp_replace(prev, pat, f"<{name.upper()}>")
    d = d.select("doc_id", prev.alias("red"), *cols)
    resid = [
        _count("red", name, pat).alias(f"res_{name}")
        for name, pat in PII_PATTERNS
    ]
    d = d.select("*", *resid)
    stack_args = ", ".join(
        f"'{name}', cnt_{name}, chars_{name}, res_{name}"
        for name, _ in PII_PATTERNS
    )
    long = d.select(
        F.expr(
            f"stack({len(PII_PATTERNS)}, {stack_args})"
            " AS (pii_type, cnt, chars, res)"
        )
    )
    return (
        long.groupBy("pii_type")
        .agg(
            F.sum("cnt").alias("n_hits"),
            F.sum((F.col("cnt") > 0).cast("long")).alias("n_docs"),
            F.sum("chars").alias("chars_redacted"),
            F.sum("res").alias("residual_hits"),
        )
        .orderBy("pii_type")
    )


def _pii_sql() -> str:
    plant = """SELECT doc_id,
           text
           || CASE WHEN doc_id % 7 = 0
                THEN ' contact agent' || CAST(doc_id AS VARCHAR)
                     || '@mail.example for access' ELSE '' END
           || CASE WHEN doc_id % 9 = 0
                THEN ' call 555-201-3344 or 555-201-3345 now' ELSE '' END
           || CASE WHEN doc_id % 11 = 3
                THEN ' node 10.2.30.44 unreachable' ELSE '' END
           || CASE WHEN doc_id % 13 = 5
                THEN ' card 4111222233334444 declined' ELSE '' END
           || CASE WHEN doc_id % 15 = 1
                THEN ' call +66-81-234-5678 urgently' ELSE '' END
           || CASE WHEN doc_id % 17 = 4
                THEN ' iban DE44500105175407324931 on file' ELSE '' END
           || CASE WHEN doc_id % 19 = 2
                THEN ' citizen {thai_valid} verified' ELSE '' END
           || CASE WHEN doc_id % 23 = 6
                THEN ' ref {thai_invalid} noted' ELSE '' END AS t
    FROM documents""".format(
        thai_valid=PII_THAI_VALID, thai_invalid=PII_THAI_INVALID
    )

    def _cnt(src: str, name: str, pat: str) -> str:
        if name != "thai_id":
            return f"len(regexp_extract_all({src}, '{pat}'))"
        # mod-11 checksum fold, mirroring the Spark aggregate()
        return (
            f"len(list_filter(regexp_extract_all({src}, '{pat}'), "
            "c -> ((11 - (list_sum(list_transform(range(1,13), "
            "i -> CAST(substr(c, CAST(i AS INT), 1) AS INT) * (14 - i)"
            ")) % 11)) % 10) = CAST(substr(c, 13, 1) AS INT)))"
        )

    # sequential intermediates: prevs[i] is the text class i saw
    prevs = ["t"]
    for name, pat in PII_PATTERNS:
        prevs.append(
            f"regexp_replace({prevs[-1]}, '{pat}', "
            f"'<{name.upper()}>', 'g')"
        )
    red = prevs[-1]
    unions = []
    for i, (name, pat) in enumerate(PII_PATTERNS):
        unions.append(
            f"""SELECT '{name}' AS pii_type,
       {_cnt('t', name, pat)} AS cnt,
       len({prevs[i]})
         - len(regexp_replace({prevs[i]}, '{pat}', '', 'g')) AS chars,
       {_cnt('red', name, pat)} AS res
    FROM d"""
        )
    u = "\nUNION ALL\n".join(unions)
    return f"""
WITH planted AS ({plant}),
d AS (SELECT doc_id, t, {red} AS red FROM planted),
long AS (
{u}
)
SELECT pii_type,
       CAST(SUM(cnt) AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
       CAST(SUM(chars) AS BIGINT) AS chars_redacted,
       CAST(SUM(res) AS BIGINT) AS residual_hits
FROM long GROUP BY pii_type ORDER BY pii_type
"""


TEXT_PII_AUDIT_SQL = _pii_sql()


# --- L76: embedding drift report ------------------------------------

def emb_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L76 (r12): per-dimension embedding drift between two corpus
    snapshots — the monitoring report a production embedding pipeline
    publishes when the encoder or the crawl mix changes (a drifted
    dimension upstream poisons every ANN/centroid consumer
    downstream). Snapshots are the deterministic vec_id-parity
    halves (even = reference, odd = candidate — stable at every sf).

    Per dim: mean and (population) variance of both halves from ONE
    pass of sum/sumsq partials, drift = |mu_ref - mu_cand| /
    sqrt((var_ref + var_cand) / 2) — the pooled-sigma z the simple
    two-sample drift monitors use, 6-dp rounded on identical
    operands. Shape: posexplode + groupBy(dim, half) carries
    O(64 x 2 x partitions) partial sums; document vectors never
    shuffle. 100 TB = scan-bound, like emb_pca's moment pass.
    """
    emb = _emb(spark, sf_dir)
    e = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "x"),
    )
    agg = e.groupBy("dim", "half").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast("double")).alias("s"),
        F.sum((F.col("x").cast("double")) ** 2).alias("sq"),
    )
    mu = F.col("s") / F.col("n")
    # clamp: float cancellation in sq/n - mu*mu can yield a tiny
    # negative variance on a constant dim; Spark's sqrt(neg) is NaN
    # while DuckDB's may differ — pin the cross-engine edge at 0.
    var = F.greatest(F.col("sq") / F.col("n") - mu * mu, F.lit(0.0))
    stats = agg.select("dim", "half", mu.alias("mu"), var.alias("var"))
    ref = stats.where(F.col("half") == 0).select(
        "dim", F.col("mu").alias("mu_ref"), F.col("var").alias("var_ref")
    )
    cand = stats.where(F.col("half") == 1).select(
        "dim", F.col("mu").alias("mu_cand"), F.col("var").alias("var_cand")
    )
    drift = F.abs(F.col("mu_ref") - F.col("mu_cand")) / F.sqrt(
        (F.col("var_ref") + F.col("var_cand")) / 2.0
    )
    return (
        ref.join(cand, "dim")
        .select(
            "dim",
            F.round("mu_ref", 6).alias("mu_ref"),
            F.round("mu_cand", 6).alias("mu_cand"),
            F.round(drift, 6).alias("drift_z"),
        )
        .orderBy("dim")
    )


EMB_DRIFT_REPORT_SQL = """
WITH e AS (
    SELECT vec_id % 2 AS half, u.i - 1 AS dim,
           CAST(embedding[u.i] AS DOUBLE) AS x
    FROM embeddings
    CROSS JOIN (SELECT unnest(range(1, 65)) AS i) u
),
agg AS (
    SELECT dim, half, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS sq
    FROM e GROUP BY dim, half
),
stats AS (
    SELECT dim, half, s / n AS mu,
           GREATEST(sq / n - (s / n) * (s / n), 0.0) AS var
    FROM agg
)
SELECT r.dim,
       ROUND(r.mu, 6) AS mu_ref,
       ROUND(c.mu, 6) AS mu_cand,
       ROUND(ABS(r.mu - c.mu) / SQRT((r.var + c.var) / 2.0), 6) AS drift_z
FROM stats r JOIN stats c ON r.dim = c.dim
WHERE r.half = 0 AND c.half = 1
ORDER BY r.dim
"""


# --- L77: metadata-filtered vector search ---------------------------

ANN_FILTER_MAX_LABEL = 2


def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L77 (r12): metadata-FILTERED vector search served from the
    persisted index — the feature every production vector store
    ships (search only documents matching a predicate: tenant,
    language, license tier). Pre-filter semantics: the predicate
    (label <= ANN_FILTER_MAX_LABEL, the allowed-ids relation)
    semi-joins the index POSTINGS before any scoring, so top-k ranks
    over the allowed subset — a post-filter of unfiltered top-k
    would return < k rows or miss allowed neighbors whose global
    rank exceeds k (the classic filtered-ANN correctness trap).

    Exactness: full probe (n_probe = every cell) makes the served
    result EXACT filtered kNN — persisted doubles round-trip exactly
    and `dot` accumulates in the same fold order — so the oracle
    is plain filtered brute force (the ann_topk construction with
    the WHERE pushed into the candidate side). At production scale
    the same pushdown runs at n_probe<<cells, where candidate work
    shrinks WITH selectivity (a 3%-selective filter scores ~3% of a
    cell) instead of post-filter's wasted full ranking."""
    from etl_npl_pipeline_spark.operators.ann_index import ivf_query

    idx, emb, queries = _served_batch(spark, sf_dir)
    allowed = emb.where(F.col("label") <= ANN_FILTER_MAX_LABEL).select(
        F.col("vec_id").alias("neighbor_id")
    )
    return ivf_query(
        spark,
        idx,
        queries,
        k=ANN_K,
        n_probe=IVF_KNOBS["n_clusters"],
        allowed_ids=allowed,
        n_queries_hint=ANN_N_QUERIES,
    ).orderBy("query_id", "rank")


def ann_filtered_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L77b (r13, VERDICT r12 #2): metadata-filtered search on the
    PQ serving path — the same ``allowed_ids`` pushdown ivf_query
    got in r12, now on the ADC code table: the predicate semi-joins
    pq_codes BEFORE any lookup-table scoring, so ADC work shrinks
    with selectivity and top-k ranks over the allowed subset only.

    Exactness for the oracle: rerank_factor is sized so
    k' = k x rf >= |allowed| — every allowed vector survives the ADC
    cut (each cogroup block emits at most |allowed| rows, the global
    window keeps them all) and the exact re-rank over the persisted
    normalized vectors computes the same `dot` fold as ann_topk.
    The served result is therefore EXACT filtered kNN and the oracle
    is the same filtered brute force ann_filtered_topk uses. At
    production scale the same pushdown runs with a modest rf, where
    the selectivity sweep (bench_detail ann_filter_sweep) shows the
    candidate volume shrinking with the filter."""
    from etl_npl_pipeline_spark.operators.ann_index import pq_query

    idx, emb, queries = _served_batch(spark, sf_dir)
    allowed = emb.where(F.col("label") <= ANN_FILTER_MAX_LABEL).select(
        F.col("vec_id").alias("neighbor_id")
    )
    n_allowed = allowed.count()
    rf = max(1, -(-n_allowed // ANN_K))
    return pq_query(
        spark,
        idx,
        queries,
        k=ANN_K,
        rerank_factor=rf,
        allowed_ids=allowed,
        n_queries_hint=ANN_N_QUERIES,
    ).orderBy("query_id", "rank")


ANN_FILTERED_TOPK_SQL = f"""
WITH nrm AS ({_SQL_NORMED}),
allowed AS (
    SELECT vec_id FROM embeddings WHERE label <= {ANN_FILTER_MAX_LABEL}
),
sims AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_SQL_NDOT.format(a="q.nv", b="c.nv")} AS cos_sim
    FROM nrm q
    JOIN nrm c ON q.vec_id != c.vec_id
    JOIN allowed a ON a.vec_id = c.vec_id
    WHERE q.vec_id < {ANN_N_QUERIES}
), ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id ASC
           ) AS rank
    FROM sims
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
WHERE rank <= {ANN_K} ORDER BY query_id, rank
"""

# both filtered paths are exact filtered kNN by construction (full
# probe for IVF, k' >= |allowed| for PQ), so they share the oracle
ANN_FILTERED_PQ_SQL = ANN_FILTERED_TOPK_SQL



# --- L80: distributed Lloyd's k-means -----------------------------

KM_K = 4        # clusters
KM_ROUNDS = 4   # fixed Lloyd iterations (unrolled in the oracle)
KM_SCALE = 1000000.0  # fixed-point quantization of embedding values


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L80 (r13): distributed Lloyd's k-means over the embeddings
    table — the coarse-quantizer / clustering primitive (IVF cell
    training, SemDeDup cluster induction, data-mixture domain
    discovery) run over EVERY vector, fully distributed, contrast
    operators.ivf._centroids which trains on a bounded driver
    sample. KM_ROUNDS fixed iterations from a deterministic seed
    (the KM_K smallest vec_ids), so the DuckDB oracle unrolls the
    rounds as CTE blocks (the vocab_bpe_train / text_quality_probe
    doctrine).

    Cross-engine exactness — NO float drift anywhere: vectors are
    quantized once to fixed-point BIGINT (floor(x*1e6+0.5) on the
    identical float->double widening), so squared L2 distances are
    EXACT integer sums (order-independent), argmin ties break on
    cluster id over exact ints, and the only float op per round is
    ONE IEEE division s/n per (cluster, dim) — identical operands,
    identical binary result, floored back to BIGINT. Empty cluster
    => keep the previous centroid (COALESCE on both engines).

    Scale architecture: the quantized frame is computed once and
    persisted (at 100 TB: written once, scanned KM_ROUNDS times);
    each round is ONE scan + a K x 64 partial-sum shuffle (map-side
    combine carries K*64*partitions rows — vectors never shuffle)
    with the K x 64 centroid table a driver-side model artifact
    (the IVF-centroids precedent). Assignment is an Arrow-batched
    numpy argmin over int64 distance matrices — a first draft as
    array_min over K aggregate(zip_with) structs ran the
    higher-order lambdas INTERPRETED per element (the dedup_spans
    lesson) and cost ~4.7 s/round at sf0.1; the vectorized batch
    computes the same exact integers (np.argmin keeps the
    lowest-k tie-break).
    Output: final centroids (fixed-point BIGINT, long form) + final
    cluster sizes."""
    import math

    emb = _emb(spark, sf_dir)
    # no _spread here: the per-round map work is a trivial numpy
    # batch, so extra partitions only add Python-worker task latency
    # (measured: 32-way spread cost ~1 s/round on a 2k-row scan);
    # at corpus scale maxPartitionBytes splits the scan naturally.
    xq = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x * F.lit(KM_SCALE) + F.lit(0.5)),
        ).alias("xq"),
    ).persist()
    try:
        seeds = xq.orderBy("vec_id").limit(KM_K).collect()
        cents = [list(r["xq"]) for r in seeds]
        kk = len(cents)
        if kk == 0:
            return spark.createDataFrame(
                [], "k long, dim long, c long, n_k long"
            )
        dims = len(cents[0])

        sizes = [0] * kk
        for _ in range(KM_ROUNDS):
            cent_arr = np.array(cents, dtype=np.int64)

            def _partials(batches, _c=cent_arr, _kk=kk, _d=dims):
                # assignment + per-batch moment partials in ONE
                # vectorized pass: Arrow ships K*64 partial rows per
                # batch instead of 64x-exploded vectors (a draft
                # that posexploded through the assignment UDF paid
                # 64x the Arrow transfer). int64 throughout — batch
                # sums are exact (|x| <= ~4e5 * batch rows).
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    x = np.stack(
                        [np.asarray(v, dtype=np.int64) for v in pdf["xq"]]
                    )
                    dist = ((x[:, None, :] - _c[None, :, :]) ** 2).sum(
                        axis=2
                    )
                    a = np.argmin(dist, axis=1)
                    frames = []
                    for k in range(_kk):
                        m = a == k
                        if m.any():
                            frames.append(pd.DataFrame({
                                "k": np.int64(k),
                                "dim": np.arange(_d, dtype=np.int64),
                                "s": x[m].sum(axis=0),
                                "n": np.int64(int(m.sum())),
                            }))
                    if frames:
                        yield pd.concat(frames)

            rows = (
                xq.mapInPandas(
                    _partials, "k long, dim long, s long, n long"
                )
                .groupBy("k", "dim")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
                .collect()
            )
            agg = {(r["k"], r["dim"]): (r["s"], r["n"]) for r in rows}
            sizes = [agg.get((k, 0), (0, 0))[1] for k in range(kk)]
            cents = [
                [
                    int(math.floor(agg[(k, d)][0] / agg[(k, d)][1] + 0.5))
                    if (k, d) in agg
                    else cents[k][d]
                    for d in range(dims)
                ]
                for k in range(kk)
            ]
        out = [
            (k, d, cents[k][d], sizes[k])
            for k in range(kk)
            for d in range(dims)
        ]
        from etl_npl_pipeline_spark.functions.localrel import (
            small_report_df,
        )

        return small_report_df(
            spark, out, "k long, dim long, c long, n_k long"
        ).orderBy("k", "dim")
    finally:
        xq.unpersist()


def _km_sql() -> str:
    k, r = KM_K, KM_ROUNDS
    blocks = [f"""xq AS (
    SELECT e.vec_id, u.i - 1 AS dim,
           CAST(FLOOR(CAST(e.embedding[u.i] AS DOUBLE) * {KM_SCALE}
                      + 0.5) AS BIGINT) AS x
    FROM embeddings e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) u(i)
),
seed AS (
    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k
    FROM embeddings ORDER BY vec_id LIMIT {k}
),
c0 AS (
    SELECT seed.k, xq.dim, xq.x AS c FROM seed JOIN xq USING (vec_id)
)"""]
    for t in range(1, r + 1):
        p = t - 1
        blocks.append(f"""d{t} AS (
    SELECT xq.vec_id, c{p}.k,
           SUM((xq.x - c{p}.c) * (xq.x - c{p}.c)) AS dist
    FROM xq JOIN c{p} USING (dim) GROUP BY xq.vec_id, c{p}.k
),
a{t} AS (
    SELECT vec_id, k FROM (
        SELECT vec_id, k, ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY dist, k) AS rn
        FROM d{t})
    WHERE rn = 1
),
s{t} AS (
    SELECT a{t}.k, xq.dim, SUM(xq.x) AS s, COUNT(*) AS n
    FROM xq JOIN a{t} USING (vec_id) GROUP BY a{t}.k, xq.dim
),
c{t} AS (
    SELECT c{p}.k, c{p}.dim,
           COALESCE(CAST(FLOOR(CAST(s{t}.s AS DOUBLE) / s{t}.n + 0.5)
                         AS BIGINT), c{p}.c) AS c
    FROM c{p} LEFT JOIN s{t}
      ON c{p}.k = s{t}.k AND c{p}.dim = s{t}.dim
)""")
    return (
        "WITH " + ",\n".join(blocks) + f"""
SELECT CAST(c{r}.k AS BIGINT) AS k, CAST(c{r}.dim AS BIGINT) AS dim,
       c{r}.c AS c, COALESCE(nn.n, 0) AS n_k
FROM c{r} LEFT JOIN (SELECT k, n FROM s{r} WHERE dim = 0) nn
  ON c{r}.k = nn.k
ORDER BY k, dim
"""
    )


EMB_KMEANS_SQL = _km_sql()


# --- L81: small-files compaction planner --------------------------

CP_N_FILES = 16     # synthetic files per source (doc_id mod)
CP_SMALL_FRAC = 1.0  # "small" = bytes < CP_SMALL_FRAC * source avg
CP_TARGET_AVG = 4.0  # compaction-task target = CP_TARGET_AVG * avg


def data_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L81 (r13): the OPTIMIZE planner — bin-pack a table's small
    files into target-size compaction tasks (the Delta/Iceberg
    small-files maintenance every 100 TB lakehouse runs nightly;
    the repo already ships the EXECUTION side as ann_compact /
    mor_compacted_read — this is the PLANNING operator that decides
    which files merge into which task).

    The file manifest is synthesized deterministically from the
    documents table (file = (source, doc_id % CP_N_FILES), bytes =
    sum of n_chars). Thresholds are RELATIVE so the contract stays
    non-vacuous at every sf: a file is compaction-eligible when its
    bytes < the per-source mean file size (big files are left
    alone — rewriting them is wasted IO), and each task targets
    CP_TARGET_AVG x mean bytes: task = floor(cumsum_before /
    target) over eligible files in file_id order — the data_pack
    cumsum-binning shape applied to the manifest.

    Scale: the manifest is METADATA-scale (one row per file — ~1e6
    rows for 100 TB of 100 MB files), so the per-source cumsum
    window is honest; the only corpus-sized work is the ONE
    groupBy building the manifest (map-side partial sums). Exact
    arithmetic: bytes are BIGINT; mean and target are one IEEE
    division/multiply on identical operands; floor on identical
    doubles agrees across engines."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    files = (
        docs.select(
            "source",
            (F.col("doc_id") % CP_N_FILES).alias("file_id"),
            F.col("n_chars").alias("nb"),
        )
        .groupBy("source", "file_id")
        .agg(F.sum("nb").alias("bytes"), F.count(F.lit(1)).alias("n_docs"))
    )
    stats = files.groupBy("source").agg(
        (F.sum("bytes").cast("double") / F.count(F.lit(1))).alias("avg_b")
    )
    f = files.join(F.broadcast(stats), "source")
    small = f.where(
        F.col("bytes").cast("double") < F.lit(CP_SMALL_FRAC) * F.col("avg_b")
    )
    win = (
        Window.partitionBy("source")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tasks = small.withColumn(
        "task_id",
        F.floor(
            F.coalesce(F.sum("bytes").over(win), F.lit(0)).cast("double")
            / (F.lit(CP_TARGET_AVG) * F.col("avg_b"))
        ),
    )
    return (
        tasks.groupBy("source", "task_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("bytes").alias("bytes_in"),
        )
        .orderBy("source", "task_id")
    )


DATA_COMPACTION_PLAN_SQL = f"""
WITH files AS (
    SELECT source, doc_id % {CP_N_FILES} AS file_id,
           CAST(SUM(n_chars) AS BIGINT) AS bytes
    FROM documents GROUP BY source, doc_id % {CP_N_FILES}
),
stats AS (
    SELECT source, CAST(SUM(bytes) AS DOUBLE) / COUNT(*) AS avg_b
    FROM files GROUP BY source
),
small AS (
    SELECT f.source, f.file_id, f.bytes, s.avg_b
    FROM files f JOIN stats s ON f.source = s.source
    WHERE CAST(f.bytes AS DOUBLE) < {CP_SMALL_FRAC} * s.avg_b
),
tasks AS (
    SELECT source, file_id, bytes,
           CAST(FLOOR(CAST(COALESCE(SUM(bytes) OVER (
               PARTITION BY source ORDER BY file_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS DOUBLE) / ({CP_TARGET_AVG} * avg_b)) AS BIGINT)
               AS task_id
    FROM small
)
SELECT source, task_id, COUNT(*) AS n_files,
       CAST(SUM(bytes) AS BIGINT) AS bytes_in
FROM tasks GROUP BY source, task_id ORDER BY source, task_id
"""


# --- L82: radius (range) vector search ----------------------------

RANGE_THRESH = 0.35  # cosine radius: non-vacuous at every sf
RANGE_KMAX = 10      # per-query result cap (the "range+limit" API)


def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L82 (r13): RADIUS search served from the persisted IVF index
    — "every neighbor with cos >= t, capped at KMAX per query", the
    third serving mode production vector stores ship next to top-k
    and filtered top-k (near-duplicate lookup, dedup-at-ingest
    probes, recommendation diversity pools all ask for a radius,
    not a rank).

    Composition, not new machinery: full-probe ivf_query at
    k=RANGE_KMAX is EXACT capped kNN (persisted doubles round-trip
    exactly; the `dot` fold is bit-identical), and because results
    per query arrive cos-descending, the radius predicate keeps a
    PREFIX of ranks — so filter-after-topk equals true range search
    whenever a query has <= KMAX in-radius neighbors, and the cap
    itself is the documented API otherwise. The oracle mirrors both
    the radius and the cap on brute force. At n_probe<<cells the
    same shape serves approximately with candidate work bounded by
    the probed cells — the radius only ever SHRINKS scoring output,
    never the probe volume, so the 100 TB story is ivf_query's."""
    from etl_npl_pipeline_spark.operators.ann_index import ivf_query

    idx, _, queries = _served_batch(spark, sf_dir)
    return (
        ivf_query(
            spark,
            idx,
            queries,
            k=RANGE_KMAX,
            n_probe=IVF_KNOBS["n_clusters"],
            n_queries_hint=ANN_N_QUERIES,
        )
        .where(F.col("cos_sim") >= F.lit(RANGE_THRESH))
        .orderBy("query_id", "rank")
    )


ANN_RANGE_SEARCH_SQL = f"""
WITH nrm AS ({_SQL_NORMED}),
sims AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_SQL_NDOT.format(a="q.nv", b="c.nv")} AS cos_sim
    FROM nrm q
    JOIN nrm c ON q.vec_id != c.vec_id
    WHERE q.vec_id < {ANN_N_QUERIES}
), ranked AS (
    SELECT query_id, neighbor_id, cos_sim,
           ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cos_sim DESC, neighbor_id ASC
           ) AS rank
    FROM sims
)
SELECT query_id, rank, neighbor_id, cos_sim FROM ranked
WHERE rank <= {RANGE_KMAX} AND cos_sim >= {RANGE_THRESH}
ORDER BY query_id, rank
"""


# --- ST16: streaming embedding-drift monitor ----------------------

DM_SCALE = 1000000.0  # fixed-point quantization (the emb_kmeans knob)


def _dm_moments(edf: DataFrame) -> dict:
    """Exact-BIGINT per-(dim, half) moments of a quantized embedding
    frame: {(dim, half): (n, s, sq)}. Additive across disjoint
    batches (integer sums), the property the streaming fold relies
    on. At true 100 TB widths sq partials become decimal(38) — the
    quality-probe doctrine."""
    rows = (
        edf.select(
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode("xq").alias("dim", "x"),
        )
        .groupBy("dim", "half")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("sq"),
        )
        .collect()
    )
    return {
        (r["dim"], r["half"]): (r["n"], r["s"], r["sq"]) for r in rows
    }


def _dm_add(a: dict, b: dict) -> dict:
    out = dict(a)
    for k, (n, s, sq) in b.items():
        if k in out:
            n0, s0, sq0 = out[k]
            out[k] = (n0 + n, s0 + s, sq0 + sq)
        else:
            out[k] = (n, s, sq)
    return out


def _dm_report(spark: SparkSession, mom: dict) -> DataFrame:
    """Drift report from accumulated exact moments — every float op
    (division, multiply, subtract, sqrt) runs on identical binary
    operands in the SQL oracle, and the floor-based 6-dp round
    (_qp_rnd) cannot disagree across engines."""
    import math

    dims = sorted({d for d, _ in mom})
    rows = []
    for d in dims:
        if (d, 0) not in mom or (d, 1) not in mom:
            continue
        stats = []
        for h in (0, 1):
            n, s, sq = mom[(d, h)]
            mu_q = s / n
            vq = max(sq / n - mu_q * mu_q, 0.0)
            stats.append((mu_q / DM_SCALE, vq / (DM_SCALE * DM_SCALE)))
        (mu_r, var_r), (mu_c, var_c) = stats
        denom = math.sqrt((var_r + var_c) / 2.0)
        if denom == 0.0:
            # IEEE semantics, matching DuckDB's double division:
            # 0/0 -> nan, x/0 -> inf (cannot happen on real
            # embeddings — both halves constant on a dim — but the
            # cross-engine edge is pinned, the L76 clamp doctrine)
            z = float("nan") if mu_r == mu_c else float("inf")
        else:
            z = abs(mu_r - mu_c) / denom
        rows.append((
            d,
            _qp_rnd(mu_r, 1e6),
            _qp_rnd(mu_c, 1e6),
            _qp_rnd(z, 1e6) if math.isfinite(z) else z,
        ))
    from etl_npl_pipeline_spark.functions.localrel import small_report_df

    return small_report_df(
        spark, rows,
        "dim long, mu_ref double, mu_cand double, drift_z double",
    ).orderBy("dim")


def stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST16 (r13): STREAMING drift monitoring — the L76 report as a
    long-lived stream (the shape a production embedding pipeline
    actually runs: the monitor folds each arriving shard's moments
    into a persisted accumulator and re-emits the report without
    ever rescanning history). Embeddings arrive as four
    micro-batches (``staged_stream``, slice = vec_id mod 4); each
    micro-batch contributes its
    64x2x3 EXACT-BIGINT moments (vectors quantized to fixed-point,
    the emb_kmeans doctrine — integer sums are order- and
    batch-independent) via ONE aggregate in foreachBatch, keyed by
    batch_id so an at-least-once replay OVERWRITES its slot (the
    ST15 exactly-once pattern). The report is a driver-side fold of
    the 384-number artifact; stream == batch bit-for-bit, so the
    oracle is the quantized batch SQL."""
    src_dir = sf_scratch_dir("stream_drift", sf_dir)
    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    stream = staged_stream(emb, F.pmod("vec_id", 4), 4, f"{src_dir}/in")
    xq = stream.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x * F.lit(DM_SCALE) + F.lit(0.5)),
        ).alias("xq"),
    )
    moments = drain_per_batch(
        xq, "stream_drift_monitor", f"{src_dir}/ckpt", _dm_moments
    )
    return _dm_report(spark, reduce(_dm_add, moments, {}))


STREAM_DRIFT_MONITOR_SQL = f"""
WITH e AS (
    SELECT vec_id % 2 AS half, u.i - 1 AS dim,
           CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * {DM_SCALE}
                      + 0.5) AS BIGINT) AS x
    FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) u(i)
),
agg AS (
    SELECT dim, half, COUNT(*) AS n,
           CAST(SUM(x) AS BIGINT) AS s,
           CAST(SUM(x * x) AS BIGINT) AS sq
    FROM e GROUP BY dim, half
),
st AS (
    SELECT dim, half,
           CAST(s AS DOUBLE) / n AS mu_q,
           GREATEST(CAST(sq AS DOUBLE) / n
                    - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n),
                    0) AS vq
    FROM agg
),
sc AS (
    SELECT dim, half, mu_q / {DM_SCALE} AS mu,
           vq / ({DM_SCALE} * {DM_SCALE}) AS var
    FROM st
)
SELECT CAST(r.dim AS BIGINT) AS dim,
       FLOOR(r.mu * 1e6 + 0.5) / 1e6 AS mu_ref,
       FLOOR(c.mu * 1e6 + 0.5) / 1e6 AS mu_cand,
       FLOOR(ABS(r.mu - c.mu) / SQRT((r.var + c.var) / 2.0)
             * 1e6 + 0.5) / 1e6 AS drift_z
FROM sc r JOIN sc c ON r.dim = c.dim AND r.half = 0 AND c.half = 1
ORDER BY dim
"""


# --- L83: edit-distance near-dup (prefix-blocked) ------------------

ED_MAX = 20          # max Levenshtein distance for a near-dup pair
ED_PREFIX = 16       # blocking: shared raw prefix ...
ED_BAND = 20         # ... and same floor(len/ED_BAND) length band
ED_MAX_BLOCK = 1000  # hub-block quarantine (the dedup_embedding cap)


def dedup_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L83 (r13): EDIT-DISTANCE near-duplicate pairs — the dedup
    family member that catches OCR noise, typo drift, and
    trailing-edit copies that token-level MinHash/Jaccard blur
    (distance is in CHARACTERS, not shingles). Candidate generation
    is prefix+length blocking (the PPJoin-family observation: two
    strings within edit distance d share their first ED_PREFIX
    chars unless an edit falls there, and differ in length by at
    most d): pairs form only inside (16-char-prefix, len/20 band)
    blocks, then the exact Levenshtein verify runs on candidates
    only — both engines' levenshtein() is the classic
    unit-cost edit distance, so the verify is EXACT integer parity.

    Scale: ONE scan + ONE shuffle — docs group into their block
    (collect_list bounded by the ED_MAX_BLOCK quarantine; oversized
    hub blocks emit nothing and route to MinHash — the
    dedup_embedding doctrine, mirrored in the oracle), ordered
    pairs expand INSIDE the block array (array_sort on (doc_id,
    text) structs gives the doc_id< ordering), and the verify is
    Spark's BANDED levenshtein(a, b, ED_MAX) — O(L·d) with early
    exit, returning -1 above the threshold, semantically identical
    to the oracle's full-DP filter. A first draft as a self-join
    executed the scan+block subtree three times and the full O(L²)
    DP (11 s at sf0.1); this shape measures ~2 s. Conservative by
    construction: an edit inside the first 16 chars moves the doc
    to another block (documented recall boundary; the planted
    near-dups here append at the tail, the common real-world
    shape)."""
    d = _docs(spark, sf_dir).select(
        F.substring("text", 1, ED_PREFIX).alias("pfx"),
        (F.length("text") / ED_BAND).cast("long").alias("band"),
        F.struct("doc_id", "text").alias("dt"),
    )
    blocks = (
        d.groupBy("pfx", "band")
        .agg(F.array_sort(F.collect_list("dt")).alias("items"))
        .where(
            (F.size("items") >= 2) & (F.size("items") <= ED_MAX_BLOCK)
        )
    )
    # ordered pair expansion inside the (tiny, capped) block array:
    # items is doc_id-sorted, so (i, j>i) positions ARE doc_id<
    pair = blocks.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("items"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("items"),
                            i + F.lit(2),
                            F.greatest(
                                F.size("items") - i - 1, F.lit(0)
                            ),
                        ),
                        lambda y: F.struct(
                            x["doc_id"].alias("id_a"),
                            y["doc_id"].alias("id_b"),
                            F.levenshtein(
                                x["text"], y["text"], ED_MAX
                            ).alias("edit_dist"),
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pair.select("p.id_a", "p.id_b", "p.edit_dist")
        .where(F.col("edit_dist") >= 0)
        .orderBy("id_a", "id_b")
    )


DEDUP_EDITDISTANCE_SQL = f"""
WITH d AS (
    SELECT doc_id, text, substr(text, 1, {ED_PREFIX}) AS pfx,
           CAST(len(text) // {ED_BAND} AS BIGINT) AS band
    FROM documents
),
ok AS (
    SELECT pfx, band FROM d GROUP BY pfx, band
    HAVING COUNT(*) <= {ED_MAX_BLOCK}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
FROM d a
JOIN ok ON a.pfx = ok.pfx AND a.band = ok.band
JOIN d b ON a.pfx = b.pfx AND a.band = b.band AND a.doc_id < b.doc_id
WHERE levenshtein(a.text, b.text) <= {ED_MAX}
ORDER BY id_a, id_b
"""


# --- L84: PageRank over the kNN graph ------------------------------

PR_ROUNDS = 3
PR_DAMP = 0.85
PR_UNIT = 1e12   # fixed-point probability mass unit
PR_TOPN = 50


def _pagerank(
    spark: SparkSession, nodes: DataFrame, edges: DataFrame, k: int
) -> DataFrame:
    """Fixed-round PageRank core, shared by the exact-yardstick and
    index-served contracts. ``nodes(vec_id)``, ``edges(src, dst)``
    with UNIFORM out-degree ``k`` (kNN graphs guarantee it — no
    dangling mass). Probability mass lives as BIGINT micro-units
    (the emb_kmeans fixed-point doctrine): each round's in-neighbor
    mass SUM is an exact integer (order-independent — the one
    float-killer in naive distributed PR), and the update
        p' = floor((1-d)·PR_UNIT/N + d·(S/k) + 0.5)
    is a short IEEE chain on identical operands, floored back to
    BIGINT; the oracles unroll the same rounds as CTE blocks and
    match to the micro-unit. Each round is ONE groupBy(dst) with
    map-side partials + a join back to the N-row mass frame —
    bytes-linear, the label-propagation shape."""
    import math

    n = nodes.count()
    if n == 0:
        return spark.createDataFrame([], "vec_id long, pr_micro long")
    p0 = int(math.floor(PR_UNIT / n + 0.5))
    teleport = (1.0 - PR_DAMP) * PR_UNIT / n
    p = nodes.select("vec_id", F.lit(p0).alias("p"))
    for _ in range(PR_ROUNDS):
        inmass = (
            edges.join(p, edges.src == p.vec_id)
            .groupBy("dst")
            .agg(F.sum("p").alias("s"))
        )
        p = nodes.join(
            inmass, nodes.vec_id == inmass.dst, "left"
        ).select(
            "vec_id",
            F.floor(
                F.lit(teleport)
                + F.lit(PR_DAMP)
                * (
                    F.coalesce(F.col("s"), F.lit(0)).cast("double")
                    / F.lit(float(k))
                )
                + F.lit(0.5)
            ).alias("p"),
        )
    return (
        p.orderBy(F.col("p").desc(), F.col("vec_id").asc())
        .limit(PR_TOPN)
        .select("vec_id", F.col("p").alias("pr_micro"))
    )


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L84 (r13): PageRank over the embedding kNN graph — the
    centrality step of a curation pipeline (rank documents by how
    often OTHER documents' neighborhoods point at them: hub
    detection, representative selection for human review, the
    "pick the canonical copy" signal dedup_survivors consumes from
    frequency today). Each node links TO its LP_K nearest
    neighbors, so out-degree is uniformly LP_K; PR_ROUNDS fixed
    synchronous rounds, output = top PR_TOPN nodes by rank.

    This contract is the ACCURACY YARDSTICK flavor: the graph comes
    from the capped exact-kNN build (the L72 shape, shuffle ×48.4
    measured at 10× data on the full 20k graph) — the production
    path at scale is ``graph_pagerank_indexed`` below, the L72b
    composition serving the same rounds from the persisted ANN
    index. See ``_pagerank`` for the exact fixed-point arithmetic
    contract."""
    emb = _emb(spark, sf_dir).where(F.col("vec_id") < LP_YARDSTICK_CAP)
    # one count sizes both chunk axes of the corpus-as-queries build
    n = emb.count()
    edges = S.brute_force_topk(
        emb, emb, k=LP_K, id_col="vec_id", vec_col="embedding",
        n_q_hint=n, n_c_hint=n,
    ).select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    ).persist()
    try:
        return _pagerank(spark, emb.select("vec_id"), edges, LP_K)
    finally:
        edges.unpersist()


def _pr_rounds_sql(k: int) -> str:
    """The shared PR-round CTE chain — expects ``nodes (vec_id)``
    and ``edges (src, dst)`` CTEs in the prologue (exact capped kNN
    for L84, the planted-grid group graph for L84b)."""
    rounds = []
    prev = "p0"
    for r in range(1, PR_ROUNDS + 1):
        rounds.append(f"""s{r} AS (
    SELECT e.dst, SUM(p.p) AS s
    FROM edges e JOIN {prev} p ON p.vec_id = e.src
    GROUP BY e.dst
),
p{r} AS (
    SELECT n.vec_id,
           CAST(FLOOR(tp.t + {PR_DAMP} * (CAST(COALESCE(s{r}.s, 0)
                    AS DOUBLE) / CAST({k} AS DOUBLE)) + 0.5)
                AS BIGINT) AS p
    FROM nodes n
    LEFT JOIN s{r} ON n.vec_id = s{r}.dst
    CROSS JOIN tp
)""")
        prev = f"p{r}"
    body = ",\n".join(rounds)
    return f"""cnt AS (SELECT COUNT(*) AS n FROM nodes),
tp AS (SELECT (1.0 - {PR_DAMP}) * {PR_UNIT} / n AS t,
              CAST(FLOOR({PR_UNIT} / n + 0.5) AS BIGINT) AS pinit
       FROM cnt),
p0 AS (SELECT n.vec_id, tp.pinit AS p FROM nodes n CROSS JOIN tp),
{body}
SELECT vec_id, p AS pr_micro FROM p{PR_ROUNDS}
ORDER BY p DESC, vec_id ASC LIMIT {PR_TOPN}"""


def _pagerank_oracle_sql() -> str:
    return f"""
WITH nrm AS MATERIALIZED (
    SELECT * FROM ({_SQL_NORMED}) WHERE vec_id < {LP_YARDSTICK_CAP}
),
sims AS MATERIALIZED (
    SELECT q.vec_id AS src, c.vec_id AS dst,
           {_SQL_NDOT.format(a="q.nv", b="c.nv")} AS cos_sim
    FROM nrm q JOIN nrm c ON q.vec_id != c.vec_id
),
edges AS MATERIALIZED (
    SELECT src, dst FROM (
        SELECT src, dst, ROW_NUMBER() OVER (
            PARTITION BY src ORDER BY cos_sim DESC, dst ASC
        ) AS rank FROM sims
    ) WHERE rank <= {LP_K}
),
nodes AS (SELECT vec_id FROM embeddings
          WHERE vec_id < {LP_YARDSTICK_CAP}),
{_pr_rounds_sql(LP_K)}
"""


GRAPH_PAGERANK_SQL = _pagerank_oracle_sql()


def graph_pagerank_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L84b (r13): the PRODUCTION PageRank — the same fixed-point
    rounds as L84, but the kNN graph is SERVED from the persisted
    IVF index over the planted-grid corpus (``_lp_grid_served``, the
    L72b composition: the served graph IS the exact within-group kNN
    graph, which the oracle replays). Edge construction is O(N·cell)
    — bytes-linear (L72b measured ×10.2/×10.3 at two decades) — so
    this is the flavor that survives 100 TB; L84 stays as the
    accuracy yardstick."""
    corpus, served = _lp_grid_served(spark, sf_dir)
    edges = served.select(
        F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst")
    )
    return _pagerank(
        spark, corpus.select("vec_id"), edges, LP_GRID_COPIES - 1
    )


def _pagerank_indexed_oracle_sql() -> str:
    js = ", ".join(f"({j})" for j in range(LP_GRID_COPIES))
    return f"""
WITH grid AS MATERIALIZED (
    SELECT e.vec_id * {LP_GRID_STRIDE} + t.j AS vec_id,
           e.vec_id AS grp
    FROM embeddings e CROSS JOIN (VALUES {js}) t(j)
),
edges AS MATERIALIZED (
    SELECT a.vec_id AS src, b.vec_id AS dst
    FROM grid a JOIN grid b
      ON a.grp = b.grp AND a.vec_id != b.vec_id
),
nodes AS (SELECT vec_id FROM grid),
{_pr_rounds_sql(LP_GRID_COPIES - 1)}
"""


GRAPH_PAGERANK_INDEXED_SQL = _pagerank_indexed_oracle_sql()
