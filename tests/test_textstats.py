"""Literal-string checks for the functions.textstats scores the curation
queries compose (lang_id, quality_score, token_counts, dedup_exact_norm)."""

from __future__ import annotations

from dmp_crawler_spark.functions import textstats as TS


def test_text_scores_on_literals(spark):
    cases = {
        # 55 chars, 40 Latin, 2 punct, 14 tokens (mean length 3.0), 9 stopwords
        "The cat sat on the mat, and it was happy to be at home.": (
            "en", 1.0, "the cat sat on the mat and it was happy to be at home", 16,
        ),
        # 14 CJK of 16 chars, 2 CJK punct: too short, one 16-char "word"
        "今天天气很好，我们去公园散步吧。": (
            "zh", 0.5, "今天天气很好我们去公园散步吧", 16,
        ),
        "": ("und", 0.0, "", 0),
        # 18 punct of 23 chars in 6 tokens: only the word-length gate passes
        "!!! ??? ... ,,, ;;; !!!": ("und", 0.25, "", 18),
    }
    df = spark.createDataFrame([(t,) for t in cases], "text string")
    got = {
        r["text"]: (r["lang"], r["quality"], r["norm"], r["bpe"])
        for r in df.select(
            "text",
            TS.detect_lang("text").alias("lang"),
            TS.quality_score("text").alias("quality"),
            TS.norm_text("text").alias("norm"),
            TS.bpe_token_count("text").alias("bpe"),
        ).collect()
    }
    assert got == cases
