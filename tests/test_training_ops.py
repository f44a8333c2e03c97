"""Planted-case tests for the training-data assembly operators
(decontaminate / domain_mix / pack_sequences)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dmp_crawler_spark.operators import training as TR


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_decontaminate_flags_planted_copy(spark):
    bench_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = _docs(
        spark,
        [
            (1, "web", bench_text),  # verbatim copy → contaminated
            (2, "web", "prefix words " + bench_text + " suffix words"),  # superset
            (3, "web", "totally unrelated text with many distinct words here now"),
        ],
    )
    bench = _docs(spark, [(100, "eval", bench_text)])
    out = {
        r["doc_id"]: r
        for r in TR.decontaminate(docs, bench, n=8).collect()
    }
    assert 3 not in out  # zero overlap never leaves the map side
    assert out[1]["contaminated"] == 1
    assert out[1]["n_matched"] == out[1]["n_grams"] == 3  # 10 toks → 3 8-grams
    # the superset doc shares all 3 bench grams out of its 7
    assert out[2]["n_matched"] == 3 and out[2]["n_grams"] == 7
    assert out[2]["contaminated"] == 0


def test_decontaminate_short_doc_whole_text_gram(spark):
    docs = _docs(spark, [(1, "web", "short text"), (2, "web", "short texts")])
    bench = _docs(spark, [(9, "eval", "short text")])
    out = {r["doc_id"]: r for r in TR.decontaminate(docs, bench, n=8).collect()}
    assert out[1]["contaminated"] == 1 and 2 not in out


def test_domain_mix_rates_and_determinism(spark):
    docs = _docs(spark, [(i, f"s{i % 3}", f"doc {i}") for i in range(300)])
    weights = spark.createDataFrame(
        [("s0", 0), ("s1", 10000), ("s2", 25000)], "source string, rate_bp int"
    )
    out = TR.domain_mix(docs, weights).groupBy("source").agg(
        F.count(F.lit(1)).alias("rows"),
        F.max("epoch").alias("max_epoch"),
    )
    rows = {r["source"]: r for r in out.collect()}
    assert "s0" not in rows  # rate 0 drops the source
    assert rows["s1"]["rows"] == 100 and rows["s1"]["max_epoch"] == 1
    # 2.5 epochs: every doc twice, ~half a third time; bucket hash is
    # uniform-ish so expect strictly between 2n and 3n
    assert 200 < rows["s2"]["rows"] < 300 and rows["s2"]["max_epoch"] == 3
    # deterministic: identical replay
    a = sorted(map(tuple, TR.domain_mix(docs, weights).collect()))
    b = sorted(map(tuple, TR.domain_mix(docs, weights).collect()))
    assert a == b


def test_domain_mix_summary_keeps_zero_sources(spark):
    docs = _docs(spark, [(i, f"s{i % 2}", "x") for i in range(10)])
    weights = spark.createDataFrame(
        [("s0", 0), ("s1", 10000)], "source string, rate_bp int"
    )
    out = {r["source"]: r for r in TR.domain_mix_summary(docs, weights).collect()}
    assert out["s0"]["rows_out"] == 0 and out["s0"]["n_docs"] == 5
    assert out["s1"]["rows_out"] == 5


def _packed(docs, capacity):
    """pack_sequences over (doc_id, shard = source, whitespace n_tokens)."""
    from dmp_crawler_spark.functions import textstats as TS

    counted = docs.select(
        "doc_id",
        F.col("source").alias("shard"),
        TS.ws_token_count("text").cast("long").alias("n_tokens"),
    )
    return {
        r["doc_id"]: r
        for r in TR.pack_sequences(counted, capacity=capacity).collect()
    }


def test_pack_sequences_layout(spark):
    # 3 docs of 10 tokens each in one shard, capacity 16:
    # doc1 [0,10), doc2 [10,20) spans seqs 0-1, doc3 [20,30) in seq 1
    ten = " ".join(f"t{i}" for i in range(10))
    docs = _docs(spark, [(1, "a", ten), (2, "a", ten), (3, "a", ten), (4, "b", ten)])
    out = _packed(docs, 16)
    assert (out[1]["start_off"], out[1]["first_seq"], out[1]["last_seq"]) == (0, 0, 0)
    assert (out[2]["start_off"], out[2]["first_seq"], out[2]["last_seq"]) == (10, 0, 1)
    assert (out[3]["start_off"], out[3]["first_seq"], out[3]["last_seq"]) == (20, 1, 1)
    # shards pack independently
    assert (out[4]["start_off"], out[4]["first_seq"]) == (0, 0)


def test_pack_sequences_empty_doc_zero_width(spark):
    docs = _docs(spark, [(1, "a", "one two three"), (2, "a", "   "), (3, "a", "x")])
    out = _packed(docs, 8)
    assert out[2]["n_tokens"] == 0
    assert out[2]["first_seq"] == out[2]["last_seq"]
    # the empty doc consumes no offset: doc3 starts where doc2 did + 0
    assert out[3]["start_off"] == out[2]["start_off"]


def test_unigram_lm_scores_rare_vs_common(spark):
    from dmp_crawler_spark.functions import textstats as TS

    # "common common common" dominates the corpus; doc 3 is all-rare
    docs = _docs(
        spark,
        [(1, "a", "common common common"),
         (2, "a", "common common rareish"),
         (3, "a", "unique1 unique2 unique3"),
         (4, "a", "   ")],  # token-less: absent from output
    )
    out = {r["doc_id"]: r for r in TS.unigram_lm_scores(docs).collect()}
    assert 4 not in out
    assert out[1]["n_tokens"] == 3
    # p(common)=6/9, p(rareish)=1/9, p(unique*)=1/9 each:
    # logppl(1) < logppl(2) < logppl(3) and doc3 = ln 9 exactly
    assert out[1]["logppl"] < out[2]["logppl"] < out[3]["logppl"]
    import math
    assert abs(out[3]["logppl"] - round(math.log(9), 4)) < 1e-9
