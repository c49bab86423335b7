"""End-to-end corpus curation — the composition every training-data
pipeline ships: quality filter → near-dup removal → deterministic
split, as ONE lazily-planned DataFrame flow (no intermediate
materialization; Catalyst sees the whole pipeline).

Stage semantics reuse the individually-verified operators:
- quality gate: word count in [20, 120] (llmdata.text_quality's
  len_band==1) — runs first so dedup never shingles rejects.
- near-dup removal: jaccard pairs on the FILTERED corpus →
  connected components → drop non-canonical members
  (llmdata.dedup_survivors shape).
- split: md5-bucket assignment (llmdata.data_split) — stable across
  runs/engines/partitionings.

The oracle replays the identical composition in DuckDB (recursive
CTE for the cluster step), so the full pipeline — not just its
stages — is value-checked.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from etl_npl_pipeline_spark.plans.llmdata import (
    JACCARD_THRESHOLD,
    MAX_SHINGLE_FREQ,
    _docs,
    _dup_clusters,
)

MIN_WORDS, MAX_WORDS = 20, 120


def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated document set: (doc_id, split) after quality gate
    and near-dup removal."""
    docs = _docs(spark, sf_dir)
    # \s+ split everywhere (operators.text.tokens semantics) — a
    # single-space split diverges on runs of whitespace/newlines.
    n_words = F.size(F.split(F.trim("text"), r"\s+"))
    good = docs.where(n_words.between(MIN_WORDS, MAX_WORDS))
    cc = _dup_clusters(good)
    drop = cc.where(F.col("node") != F.col("component")).select("node")
    kept = good.join(
        F.broadcast(drop), good.doc_id == F.col("node"), "left_anti"
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    split = (
        F.when(bucket < 204, F.lit("train"))
        .when(bucket < 230, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return kept.select("doc_id", split.alias("split"), "n_chars")


def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-split summary of the curated corpus (the pipeline's
    acceptance report)."""
    return (
        curated_corpus(spark, sf_dir)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars"),
        )
        .orderBy("split")
    )


_SQL_TOKS = r"regexp_split_to_array(trim(text), '\s+')"

_SQL_GOOD_SHINGLES = f"""
    SELECT doc_id AS doc,
           unnest(list_distinct(list_transform(
               range(1, len({_SQL_TOKS}) - 1),
               i -> {_SQL_TOKS}[i] || ' '
                    || {_SQL_TOKS}[i+1] || ' '
                    || {_SQL_TOKS}[i+2]
           ))) AS shingle
    FROM good
"""

CORPUS_CURATION_SQL = f"""
WITH RECURSIVE good AS (
    SELECT * FROM documents
    WHERE len({_SQL_TOKS}) BETWEEN {MIN_WORDS} AND {MAX_WORDS}
),
sh_all AS ({_SQL_GOOD_SHINGLES}),
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
),
kept AS (
    SELECT doc_id, n_chars FROM good
    WHERE doc_id NOT IN (SELECT node FROM drop_docs)
),
assigned AS (
    SELECT CASE
             WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) < 204 THEN 'train'
             WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INT) < 230 THEN 'val'
             ELSE 'test'
           END AS split,
           n_chars
    FROM kept
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
FROM assigned GROUP BY split ORDER BY split
"""
