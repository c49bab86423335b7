"""Multiscript language ID (r8, VERDICT r7 #2): the script-dominance
stage must identify the reference's own domain (Thai —
src/ETL-NPL-Pipeline.py:5) and the other unsegmented/non-Latin
scripts, while Latin documents stay on the stopword path. The
oracle-parity sweep checks Spark==DuckDB; these tests check the
answers are RIGHT (a confusion both engines agree on would still
pass parity)."""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_npl_pipeline_spark.operators import text as T
from etl_npl_pipeline_spark.plans.llmdata import PLANTED_LANG_DOCS


def _predict(spark, rows):
    df = spark.createDataFrame(rows, schema="lang string, text string")
    return {
        r["text"]: r["p"]
        for r in T.with_lang_id(df, "text", out="p").collect()
    }


def test_planted_docs_identified_exactly(spark):
    """Every planted doc's prediction equals its label — Thai, zh,
    ja, ko, ru, ar via script dominance; en/es/fr/de via stopwords;
    the Latin-dominant doc quoting Thai stays 'en'."""
    pred = _predict(spark, PLANTED_LANG_DOCS)
    for lang, text in PLANTED_LANG_DOCS:
        assert pred[text] == lang, (lang, text, pred[text])


def test_ja_vs_zh_split_by_kana_share(spark):
    rows = [
        # pure han -> zh
        ("zh", "银行监管机构发布报告"),
        # han with >=20% kana -> ja
        ("ja", "銀行は報告を発表した"),
        # kana-only (children's-book style) -> ja
        ("ja", "ぎんこうはほうこくをはっぴょうしました"),
    ]
    pred = _predict(spark, rows)
    for lang, text in rows:
        assert pred[text] == lang, (lang, text, pred[text])


def test_latin_quote_below_dominance_stays_stopword_path(spark):
    rows = [("en", "the report of the bank used the word หนี้ once in the text")]
    assert _predict(spark, rows)[rows[0][1]] == "en"


def test_token_count_mixed_values(spark):
    cases = [
        # pure Latin: same as whitespace count
        ("the quick brown fox", 4),
        # pure han: one token per character
        ("银行监管", 4),
        # Thai นี้ = base + vowel + tone -> 1; หนี้เสีย = 8 cp - 3 comb = 5
        ("หนี้เสีย", 5),
        # mixed: 2 ws tokens + 4 han chars
        ("bad loans 不良贷款", 6),
        # empty
        ("", 0),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], schema="text string")
    got = {
        r["text"]: r["n"]
        for r in df.select(
            "text", T.token_count_mixed("text").alias("n")
        ).collect()
    }
    for text, want in cases:
        assert got[text] == want, (text, want, got[text])


def test_corpus_latin_path_unchanged(spark, sf_dir):
    """The script stage must not move any corpus document off the
    stopword path (the corpus is Latin-script synthetic text): zero
    docs take a script-dominant label."""
    from etl_npl_pipeline_spark.plans.llmdata import _docs

    script_langs = {"th", "zh", "ja", "ko", "ru", "ar"}
    n = (
        T.with_lang_id(_docs(spark, sf_dir), "text", out="p")
        .where(F.col("p").isin(*script_langs))
        .count()
    )
    assert n == 0
