"""Driver contract for the spark-graft builder (PySpark target).

queries() — one entry per implemented operator from SURVEY.md §2 (plus the
training-data operators); oracle_sql() — the DuckDB-equivalent ANSI SQL.
Aliases match exactly between both sides; float aggregates are rounded on
both sides so order-of-summation noise can't flip the value hash.

Operator ↔ query map (SURVEY.md §2 ids in names):
  q1_pricing_summary  hash agg w/ partial+final (A1/A5)
  a1_distinct         DISTINCT (A1)
  a2_collect_set_str  collect_set + join-to-string (A2)
  a3_count_distinct   count / countDistinct (A3)
  j1_anti_join_seen   anti-join dedup-before-work (J1)
  j2_freshness_expiry as-of freshness predicate (J2)
  j3_broadcast_lookup broadcast dimension join (J3)
  j4_enrichment_join  per-key enrichment join (J4)
  j5_self_join_pairs  self-join hierarchy/pairing (J5)
  w1_priority_ranking politeness/priority window (W1/Q3)
  w2_first_match      first-match semantics (W2)
  w3_pagination       pagination unroll explode (W3)
  s1_seed_explode     seed range-template expansion (S1)
  f1_extension_filter extension-blacklist predicate (F1)
  f4_recency_filter   current-year filter (F4)
  f5_junk_filter      junk/empty-content filter (F5)
  set_union_distinct  union + distinct (§2.6)
  c1_regex_extract    regexpExtract semantics (C1)
  c_dates_pipeline    date helpers C4-C8 incl. sentinel (C4-C8)
  c14_md5_dedup       md5 fingerprint dedup (C14)
  c20_jsonp_unwrap    JSONP unwrap + JSON field (C19/C20)
  f2_page_class       URL-class regex dispatch (F2)
  f3_regex_taxonomy   first-match rule-table classifier (F3)
  f6_shape_guard_split null-guard + requeue routing (F6)
  c4_c5_ts_roundtrip  epoch<->date helpers w/ ''-on-bad (C4/C5/C10)
  c_misc_scalars      after-colon/万-price/urldecode/template/bsid (C11/C12/C17/C18/C22)
  c19_script_json     var config = {...} script-JSON extraction (C19)
  s7_static_table     in-code literal table + broadcast join (S7)
  event_sessionize    30-min-gap session windows (stateful batch form)
  fingerprint_dedup   rolling-hash document fingerprint dedup
  lang_id / quality_score / token_counts  text analysis
  dedup_exact_norm    exact dedup on normalized text
  minhash_pairs / simhash_pairs / ngram_jaccard  near-dup pair sets
  dedup_clusters      connected-components near-dup clustering
  ann_topk / ivf_topk / embedding_near_pairs  similarity search
  event_hourly / event_gaps  event-time analytics (streaming batch form)
  crawl_bfs_oracle    REAL CrawlEngine 3-iteration BFS vs unrolled SQL replay
  crawl_bfs_scale_path the same BFS with every scale gate at 0 (bloom, LSM)
  crawl_bfs_expiry_oracle J2 freshness re-admission after that BFS crawl
  bmp_decode_stats    REAL (non-stub) BMP decode vs pixel-formula replay
  wav_decode_stats    REAL (non-stub) PCM-WAV decode vs sample-formula replay
  bmp_resize_stats    REAL NN image resize (decode→resize→re-encode→decode)
  shuffle_shards      deterministic seeded corpus shuffle + shard ranks
  assemble_training   composed assembly: decontaminate → mix → shuffle → pack
  repetition_filter   Gopher repetition rules (dup lines / top 2-gram)
  line_dedup_clean    CCNet cross-document line dedup + reassembly
  pii_scrub_clean     typed PII redaction (email/IPv4/phone) + counts
  corpus_clean_v2     7-stage composed pipeline (line dedup → PII →
                      repetition → quality/lang → exact → near-dup)
Every queries() entry has a full DuckDB oracle, including the crawl loop
itself via crawl_bfs_oracle. The text scores (lang_id, quality_score,
token_counts, dedup_exact_norm) and the composed pipelines call the
library's functions.textstats operators; no wrapper re-implements one.
See COVERAGE.md for the full SURVEY §2 row -> query/test mapping.
"""

from __future__ import annotations

import os

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dmp_crawler_spark.functions import strings as S
from dmp_crawler_spark.functions import textstats as TS

EXT_BLACKLIST = r"(?i)\.(css|js|gif|jpe?g|png|mp3|mp4|zip|gz|ico)$"

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: priority-ranked per-host admission (the politeness window,
    W1/Q3) joined with a broadcast dimension — the crawl scheduler's core
    plan shape, on the events table at sf0.001."""
    return w1_priority_ranking(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# relational operator queries (each returns an aliased, oracle-matched DF)


def q1_pricing_summary(spark, d):
    li = _t(spark, d, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def a1_distinct(spark, d):
    return _t(spark, d, "orders").select("o_orderpriority").distinct()


def a2_collect_set_str(spark, d):
    return (
        _t(spark, d, "orders")
        .groupBy("o_custkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("o_orderpriority")), ","
            ).alias("priorities")
        )
    )


def a3_count_distinct(spark, d):
    return (
        _t(spark, d, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def j1_anti_join_seen(spark, d):
    # "seen" set = parts already fetched in a high-quantity lineitem; the
    # filter keeps the anti-join non-vacuous (~100 survivors at sf0.01) so
    # the oracle hash comparison has teeth (round-1 verdict item 4).
    part = _t(spark, d, "part")
    seen = (
        _t(spark, d, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select(F.col("l_partkey").alias("p_partkey"))
    )
    return part.join(seen, "p_partkey", "left_anti").select("p_partkey", "p_brand")


def j2_freshness_expiry(spark, d):
    o = _t(spark, d, "orders")
    mx = o.agg(F.max("o_orderdate").alias("mx"))
    return (
        o.crossJoin(mx)
        .filter(F.col("o_orderdate") <= F.col("mx") - F.expr("INTERVAL 90 DAYS"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_expired"))
    )


def j3_broadcast_lookup(spark, d):
    li = _t(spark, d, "lineitem")
    part = _t(spark, d, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def j4_enrichment_join(spark, d):
    o = _t(spark, d, "orders")
    li = _t(spark, d, "lineitem")
    enrich = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_extendedprice"), 2).alias("items_price"),
    )
    return (
        o.join(enrich, o.o_orderkey == enrich.l_orderkey, "left")
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_items").alias("sum_items"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("n_items").isNull(), 1).otherwise(0)).alias("n_empty"),
        )
    )


def j5_self_join_pairs(spark, d):
    c = _t(spark, d, "customer")
    n = _t(spark, d, "nation")
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).groupBy(F.col("a.c_nationkey").alias("n_nationkey")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    return pairs.join(F.broadcast(n), "n_nationkey").select(
        "n_name", "n_pairs"
    )


def w1_priority_ranking(spark, d):
    ev = _t(spark, d, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "event_type",
            "event_id",
            "rn",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        )
    )


def w2_first_match(spark, d):
    ev = _t(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_event_type"))
    )


def w3_pagination(spark, d):
    part = _t(spark, d, "part")
    return part.select(
        "p_partkey",
        F.explode(F.sequence(F.lit(1), F.pmod("p_size", F.lit(5)) + 1)).alias("page"),
    )


def s1_seed_explode(spark, d):
    r = _t(spark, d, "region")
    seeds = r.select(
        F.concat(
            F.lit("http://h"),
            F.col("r_regionkey").cast("string"),
            F.lit(".example.com/list/s1-[1-4].html"),
        ).alias("seed")
    )
    return seeds.select(
        F.explode(S.expand_seed_template("seed")).alias("url")
    )


def f1_extension_filter(spark, d):
    part = _t(spark, d, "part")
    url = F.concat(
        F.lit("http://img.example.com/"),
        F.regexp_replace("p_name", " ", "-"),
        F.when(F.pmod("p_partkey", F.lit(3)) == 0, F.lit(".jpg")).otherwise(F.lit(".html")),
    )
    return (
        part.select("p_partkey", url.alias("url"))
        .filter(~F.col("url").rlike(EXT_BLACKLIST))
    )


def f4_recency_filter(spark, d):
    ev = _t(spark, d, "events")
    mx = ev.agg(F.max(F.year("ts")).alias("max_year"))
    return (
        ev.crossJoin(mx)
        .filter(F.year("ts") == F.col("max_year"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_recent"))
    )


def f5_junk_filter(spark, d):
    docs = _t(spark, d, "documents")
    return (
        docs.filter(
            (F.length(F.trim(F.col("text"))) > 0)
            & ~F.col("text").contains("lorem ipsum")
        )
        .select("doc_id", "n_chars")
    )


def set_union_distinct(spark, d):
    o = _t(spark, d, "orders")
    hi = o.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return hi.union(urgent).distinct()


def c1_regex_extract(spark, d):
    c = _t(spark, d, "customer")
    return c.select(
        "c_custkey",
        S.regexp_extract_trim("c_name", r"Customer#(\d+)", 1).alias("cust_num"),
        S.regexp_extract_trim("c_name", r"(XYZ\d+)", 1).alias("miss_is_empty"),
    )


def c_dates_pipeline(spark, d):
    o = _t(spark, d, "orders")
    date_str = F.date_format("o_orderdate", "yyyy-MM-dd")
    compact = F.date_format("o_orderdate", "yyyyMMdd")
    return o.select(
        "o_orderkey",
        F.unix_timestamp("o_orderdate").cast("string").alias("epoch_sec"),  # C5
        compact.alias("compact_date"),                                       # C8
        S.string_insert(compact, "-", 4).alias("dashed"),                     # C6
        S.complete_datetime(date_str).alias("completed"),                     # C7
        S.complete_datetime(F.lit("")).alias("sentinel"),                     # C7 sentinel
    )


def c14_md5_dedup(spark, d):
    docs = _t(spark, d, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return (
        docs.select("doc_id", F.md5(norm).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def c20_jsonp_unwrap(spark, d):
    ev = _t(spark, d, "events")
    jsonp = F.concat(F.lit("jQuery123("), F.col("props"), F.lit(");"))
    inner = S.jsonp_unwrap(jsonp)
    return (
        ev.select(
            "event_id",
            F.get_json_object(inner, "$.k").alias("k_val"),
        )
    )


def c2_c3_clean(spark, d):
    docs = _t(spark, d, "documents")
    return docs.select(
        "doc_id",
        F.length(S.remove_punctuations("text")).alias("len_clean"),
        F.length(S.remove_line_break("text")).alias("len_nolb"),
    )


def c13_c15_encodings(spark, d):
    c = _t(spark, d, "customer")
    sex_src = F.when(F.pmod("c_custkey", F.lit(2)) == 0, F.lit("男")).otherwise(F.lit("她"))
    return c.select(
        "c_custkey",
        S.gender_code(sex_src).alias("sex_code"),
        S.classification_name(F.col("c_nationkey") + 1).alias("cls_name"),
    )


def semi_join_exists(spark, d):
    o = _t(spark, d, "orders")
    li = _t(spark, d, "lineitem")
    hot = li.filter(F.col("l_quantity") >= 49).select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return o.join(hot, "o_orderkey", "left_semi").select("o_orderkey", "o_orderstatus")


def a4_map_assembly(spark, d):
    """A4 grouped nested-map assembly → JSON (the zhishiku fold,
    …/crawler/ms/Crawler4Zhishiku.java:108-201): per customer, a JSON map
    of order-status → count with deterministic key order."""
    o = _t(spark, d, "orders")
    per = o.groupBy("o_custkey", "o_orderstatus").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per.groupBy("o_custkey")
        .agg(
            F.to_json(
                F.map_from_entries(
                    F.sort_array(F.collect_list(F.struct("o_orderstatus", "cnt")))
                )
            ).alias("status_counts")
        )
    )


# ---------------------------------------------------------------------------
# text analysis (documents)


def lang_id(spark, d):
    docs = _t(spark, d, "documents")
    return docs.select(
        "doc_id", "lang", TS.detect_lang("text").alias("lang_pred")
    )


def token_counts(spark, d):
    docs = _t(spark, d, "documents")
    return docs.select(
        "doc_id",
        TS.ws_token_count("text").alias("ws_tokens"),
        TS.bpe_token_count("text").alias("bpe_tokens"),
    )


def quality_score(spark, d):
    docs = _t(spark, d, "documents")
    return docs.select("doc_id", TS.quality_score("text").alias("quality"))


# ---------------------------------------------------------------------------
# training-data assembly (operators/training.py): the post-curation last
# mile — benchmark decontamination, deterministic domain mixing, and
# concat-and-chunk sequence packing


def _heldout(docs):
    """The held-out benchmark slice: doc_id % 97 == 0 (planted verbatim
    contamination by construction)."""
    return docs.filter(F.col("doc_id") % 97 == 0)


def _mix_weights(docs):
    """Per-source mixing rates (source, rate_bp) derived from md5(source),
    so all four regimes appear: drop / 0.875 / 1.75 / 2.625 epochs."""
    return (
        docs.select("source")
        .distinct()
        .withColumn(
            "rate_bp",
            (
                F.conv(F.substring(F.md5(F.col("source").cast("binary")), 1, 4), 16, 10)
                .cast("long")
                % 4
            )
            * 8750,
        )
    )


def decontaminate_bench(spark, d):
    """GPT-3-Appendix-C-style eval decontamination over `documents`: the
    held-out benchmark is the deterministic slice doc_id % 97 == 0 (planted
    verbatim contamination by construction), n=8 word-gram overlap with a
    50% containment threshold. Only docs sharing ≥1 gram with the benchmark
    survive to the output — the clean bulk never leaves the map side, and
    the benchmark gram set rides a broadcast."""
    from dmp_crawler_spark.operators import training as TR

    from dmp_crawler_spark.operators import dedup as dd

    docs = dd._widen_scan(
        _t(spark, d, "documents").select("doc_id", "text")
    )
    return TR.decontaminate(docs, _heldout(docs), n=8, frac_threshold=0.5)


def domain_mix_audit(spark, d):
    """Pile/Dolma-style source-mixing audit: per-source sampling rate in
    basis points (derived deterministically from md5(source) so all four
    regimes appear: drop / downsample / 1.75 epochs / 2.625 epochs),
    document count, and the rows the mix actually emits. The emitted-row
    count replays the full deterministic up/down-sampling path
    (md5-bucket per doc_id, explode(sequence) per epoch)."""
    from dmp_crawler_spark.operators import training as TR

    docs = _t(spark, d, "documents")
    return TR.domain_mix_summary(docs, _mix_weights(docs))


def pack_sequences_q(spark, d):
    """Concat-and-chunk packing layout over `documents` (shard = source,
    capacity = 2048 whitespace tokens): each doc's start offset and the
    first/last fixed-capacity sequence it lands in. One shuffle on the
    shard key; the cumsum is a within-shard running window — no global
    sort anywhere in the plan."""
    from dmp_crawler_spark.operators import training as TR

    docs = _t(spark, d, "documents").select(
        "doc_id",
        F.col("source").alias("shard"),
        TS.ws_token_count("text").cast("long").alias("n_tokens"),
    )
    return TR.pack_sequences(docs, capacity=2048)


def unigram_ppl(spark, d):
    """CCNet-style LM scoring (Wenzek et al. 2019 §4.3): per-document
    mean negative log-probability under a corpus-trained unigram LM —
    the third CCNet pillar (dedup / lang-id / LM perplexity bucketing)
    next to the line-dedup and lang-id stages already in the family.
    CCNet uses a pre-trained KenLM 5-gram; no external model exists in
    this environment, so the LM is self-trained on the same corpus in
    scan 1 (vocab groupBy, Zipf-compressed exchange) and broadcast into
    the map-side scoring pass in scan 2 — token instances never ride a
    shuffle (see functions.textstats.unigram_lm_scores)."""
    from dmp_crawler_spark.operators import dedup as dd

    docs = dd._widen_scan(_t(spark, d, "documents").select("doc_id", "text"))
    return TS.unigram_lm_scores(docs)


def assemble_training(spark, d):
    """The full training-data ASSEMBLY pipeline composed end-to-end (the
    counterpart to corpus_clean_v2's curation stack): benchmark
    decontamination → deterministic domain mixing → seeded shuffle+shard
    → concat-and-chunk packing, as ONE query with ONE DuckDB replay.

    Stage semantics (all deterministic, so the whole layout is a pure
    function of the corpus):
      1. decontaminate: docs sharing ≥50% of their 8-grams with the
         held-out slice (doc_id % 97 == 0) are DROPPED — the slice's own
         members are 100% self-contaminated by construction, so the stage
         verifiably removes every one of them;
      2. domain_mix: md5(source)-derived rates (drop / 0.875 / 1.75 /
         2.625 epochs) emit (doc, epoch) copies;
      3. shuffle_shards on mix_id = doc_id#epoch (seed 7, 8 shards) —
         copies of one doc scatter independently;
      4. pack at capacity 1024 in (shard, pos) order.

    Scale shape: per-doc token counts are computed BEFORE the shard
    exchange, so document text never rides a shuffle — only
    (doc_id, source, n_tokens, epoch) ever moves. One hash exchange
    (shard) + per-shard window rank/cumsum; no global sort."""
    from dmp_crawler_spark.operators import dedup as dd
    from dmp_crawler_spark.operators import training as TR

    docs = dd._widen_scan(
        _t(spark, d, "documents").select("doc_id", "source", "text")
    )
    flagged = (
        TR.decontaminate(
            docs.select("doc_id", "text"),
            _heldout(docs.select("doc_id", "text")),
            n=8, frac_threshold=0.5,
        )
        .filter(F.col("contaminated") == 1)
        .select("doc_id")
    )
    clean = docs.join(flagged, "doc_id", "left_anti").select(
        "doc_id", "source",
        TS.ws_token_count("text").cast("long").alias("n_tokens"),
    )
    mixed = TR.domain_mix(clean, _mix_weights(docs)).withColumn(
        "mix_id",
        F.concat(
            F.col("doc_id").cast("string"), F.lit("#"),
            F.col("epoch").cast("string"),
        ),
    )
    shuffled = TR.shuffle_shards(mixed, n_shards=8, seed=7, id_col="mix_id")
    packed = TR.pack_sequences(shuffled, capacity=1024, order_col="pos")
    return packed.select(
        "doc_id",
        F.col("epoch").cast("long").alias("epoch"),
        F.col("shard").cast("long").alias("shard"),
        F.col("pos").cast("long").alias("pos"),
        "n_tokens",
        "start_off",
        "first_seq",
        "last_seq",
    )


def dedup_exact_norm(spark, d):
    docs = _t(spark, d, "documents")
    return (
        docs.select("doc_id", TS.norm_text("text").alias("norm"))
        .groupBy("norm")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("keep_id", "n_dups")
    )


def corpus_clean(spark, d):
    """End-to-end training-corpus cleaning — the composed shape a 100-TB
    LLM-data run actually executes, stitched from four individually
    oracle-green stages: (1) heuristic quality gate (>= 3 of 4 checks),
    (2) language gate (drop 'und'), (3) normalized exact dedup keeping the
    min doc_id per text group, (4) near-dup suppression keeping only the
    connected-component representative of the MinHash-LSH pair graph.
    Models the cleanup the reference applies per-site inside each crawler
    (junk/empty filters + md5 dedup, e.g. crawler/autohome/MyProcessor.java
    junk guards) generalized to a corpus-wide pipeline.

    Scale shape: stages 1-2 are codegen'd column expressions computed in a
    SINGLE scan pass whose result is materialized per call
    (`localCheckpoint`) — the gate/norm regex stack is the per-row hot
    cost, and without the materialization Catalyst re-inlines it into
    every downstream consumer (filter + exact-dedup agg + LSH signature
    build + each label-propagation round re-evaluate it: measured 6.4 s vs
    3.5 s at sf0.1). Stage 3 is one hash-partition shuffle on the
    normalized-text key; stage 4 is the banded LSH join (never all-pairs,
    text stripped from the shuffled pair set) plus size-gated connected
    components over the (small) pair graph only — driver union-find below
    2M edges (the broadcast-side resource contract), distributed min-label
    propagation above. Total: ~2 shuffles over the full corpus regardless
    of corpus size. At 100 TB the checkpoint becomes a parquet
    materialization of the scored corpus — still the right plan: every
    stage after the scan reads the 4-column scored projection, not the raw
    corpus."""
    from dmp_crawler_spark.operators import dedup as dd

    # the sf documents table is a single parquet split at bench scale —
    # widen it so the regex scoring stack (the per-row hot cost) runs
    # cluster-wide, not on one core (no-op at real scale; see
    # operators.dedup._widen_scan)
    docs = dd._widen_scan(
        _t(spark, d, "documents").select("doc_id", "text")
    )
    return _gate_and_dedup(_scored(docs))


def _scored(docs):
    """The scored projection (doc_id, text, quality, lang_pred, norm) both
    cleaning pipelines gate and dedup on, materialized per call
    (`localCheckpoint`): a new RDD no later call can match."""
    c = F.col("text")
    return docs.select(
        "doc_id",
        "text",
        TS.quality_score(c).alias("quality"),
        TS.detect_lang(c).alias("lang_pred"),
        TS.norm_text(c).alias("norm"),
    ).localCheckpoint(eager=False)


def _gate_and_dedup(scored, *extra_gates):
    """The shared cleaning tail: quality ≥ 0.75 and lang_pred ≠ 'und' (plus
    any extra gates), then normalized exact dedup keeping the min doc_id
    per norm group, then MinHash-LSH near-dup suppression keeping each
    cluster's representative → (doc_id, quality, lang_pred)."""
    from dmp_crawler_spark.operators import dedup as dd

    gate = (F.col("quality") >= 0.75) & (F.col("lang_pred") != "und")
    for g in extra_gates:
        gate = gate & g
    gated = scored.filter(gate)
    exact_keep = (
        gated.groupBy("norm").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    survivors = gated.join(exact_keep, "doc_id")
    clusters = dd.near_dup_clusters(
        survivors.select("doc_id", "text"),
        threshold=0.5, num_hashes=16, bands=8, k_shingle=3,
    )
    dupes = clusters.filter(F.col("cluster_id") != F.col("doc_id")).select("doc_id")
    kept = survivors.join(dupes, "doc_id", "left_anti")
    return kept.select("doc_id", "quality", "lang_pred")


def _planted_pii(did):
    """Deterministic PII planted from doc_id (the corpus has none): an
    email on every 3rd doc, an IPv4 on every 4th."""
    s = lambda c: c.cast("string")  # noqa: E731
    return [
        F.when(did % 3 == 0, F.concat(
            F.lit(" contact user"), s(did),
            F.lit("@example"), s(did % 7), F.lit(".com"),
        )).otherwise(F.lit("")),
        F.when(did % 4 == 0, F.concat(
            F.lit(" from 10."), s(did % 256),
            F.lit("."), s((did * 3) % 256), F.lit(".7"),
        )).otherwise(F.lit("")),
    ]


def _three_token_lines(docs):
    """Simulated line structure for the single-line corpus: every third
    inter-word space becomes a newline."""
    return docs.select(
        "doc_id",
        F.regexp_replace("text", r"((?:\S+ ){2}\S+) ", "$1\n").alias("text"),
    )


def corpus_clean_v2(spark, d):
    """The FULL modern web-text curation pipeline, composed end-to-end
    from seven individually oracle-green stages: (1) deterministic PII
    planting + 3-token line simulation (fixture adaptation — the corpus
    is single-line and PII-free), (2) CCNet cross-document line dedup
    (boilerplate removal), (3) PII scrubbing, (4) Gopher repetition gate
    (tight profile: top 2-gram ≤0.10, dup lines ≤0.30), (5) heuristic
    quality + language gates, (6) normalized exact dedup, (7) MinHash-LSH
    near-dup suppression. This is corpus_clean extended with the round-5
    stages — the shape a Dolma/CCNet-class 100-TB run actually executes.

    Scale shape: the line-dedup + scrub prefix is materialized per call
    (`localCheckpoint`, the §2j materialization contract — every later
    stage reads the 2-column cleaned corpus, not the raw scan, and the
    scored projection is materialized again after the regex stack for the
    same reason); the repetition gate joins per-doc stats on the skew-free
    id; exact dedup is one norm-key shuffle; near-dup is the banded LSH
    join + size-gated connected components. Nothing shuffles document text
    except the line-dedup norm join (AQE skew-split) and the scored
    checkpoint."""
    from dmp_crawler_spark.operators import dedup as dd

    docs = dd._widen_scan(_t(spark, d, "documents").select("doc_id", "text"))
    planted = docs.select(
        "doc_id",
        F.concat(F.col("text"), *_planted_pii(F.col("doc_id"))).alias("text"),
    )
    ld = dd.line_dedup(_three_token_lines(planted), max_doc_freq=2).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    scrubbed = TS.pii_scrub(ld).select(
        "doc_id", F.col("clean_text").alias("text")
    ).localCheckpoint(eager=False)
    rep = TS.repetition_stats(scrubbed)
    return _gate_and_dedup(
        _scored(scrubbed).join(
            rep.select("doc_id", "dup_line_frac", "top_bigram_frac"), "doc_id"
        ),
        F.col("top_bigram_frac") <= 0.10,
        F.col("dup_line_frac") <= 0.30,
    )


# ---------------------------------------------------------------------------
# similarity (embeddings)


def ann_topk(spark, d):
    from dmp_crawler_spark.operators.dedup import _widen_scan, cosine_sim

    # single-split fixture table: widen so the cosine stage is cluster-wide
    emb = _widen_scan(_t(spark, d, "embeddings")).withColumn(
        "vec", F.col("embedding").cast("array<double>")
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", F.round(cosine_sim("vec", "qvec"), 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)


def embedding_near_pairs(spark, d):
    """Cosine near-pairs via the bucketed sign-LSH operator (not all-pairs).

    Routes through ``operators.dedup.embedding_near_dup_pairs`` — the scale
    path (banded hyperplane-sign buckets, exact cosine only within candidate
    buckets). The fixture embeddings are random (max cosine ~0.51), so the
    threshold is 0.43 and the band count is raised until recall is exact on
    these fixtures (verified against the all-pairs DuckDB oracle: 20/20 at
    sf0.001, 30/30 at sf0.01). LSH recall is probabilistic in general; the
    hyperplanes are deterministic (xxhash64-derived), so the result is
    reproducible.
    """
    from dmp_crawler_spark.operators.dedup import embedding_near_dup_pairs

    emb = _t(spark, d, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.4299, n_planes=48, bands=24
    )
    return (
        pairs.withColumn("cosine", F.round("cosine", 6))
        .filter(F.col("cosine") >= 0.43)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# event-time analytics (batch form of the streaming stage)


def event_hourly(spark, d):
    ev = _t(spark, d, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


def event_gaps(spark, d):
    ev = _t(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        ev.withColumn("gap", gap)
        .filter(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(
            # exact integer aggregates: Spark's HALF_UP round vs DuckDB's
            # HALF_EVEN disagree on avg() midpoints, so avg is left to the
            # consumer (sum/count are lossless)
            F.sum("gap").alias("sum_gap_sec"),
            F.count("gap").alias("n_gaps"),
            F.max("gap").alias("max_gap_sec"),
        )
    )


# ---------------------------------------------------------------------------
# round-1 widening: dispatch/taxonomy/guard filters, scalar helpers, static
# sources, sessionization, fingerprint dedup


def f2_page_class(spark, d):
    """F2 URL-class predicate dispatch (the shouldVisit/visit regex gate,
    …/crawler/auto/Crawler4Autohome.java:97-141): multi-regex CASE chain
    assigning a page_class per URL."""
    part = _t(spark, d, "part")
    k = F.col("p_partkey")
    url = F.concat(
        F.lit("http://www.example.com/"),
        F.when(F.pmod(k, F.lit(4)) == 0,
               F.concat(F.lit("auto/series-"), k.cast("string"), F.lit(".html")))
        .when(F.pmod(k, F.lit(4)) == 1,
              F.concat(F.lit("bbs/thread-"), k.cast("string"), F.lit(".html")))
        .when(F.pmod(k, F.lit(4)) == 2, F.concat(F.lit("user/"), k.cast("string")))
        .otherwise(F.concat(F.lit("img/"), k.cast("string"), F.lit(".jpg"))),
    )
    cls = (
        F.when(url.rlike(r"/auto/series-\d+\.html$"), F.lit("auto_detail"))
        .when(url.rlike(r"/bbs/thread-\d+\.html$"), F.lit("bbs_post"))
        .when(url.rlike(r"/user/\d+$"), F.lit("user_profile"))
        .otherwise(F.lit("skip"))
    )
    return part.select(k.alias("p_partkey"), url.alias("url"), cls.alias("page_class"))


def f3_regex_taxonomy(spark, d):
    """F3 regex-taxonomy classifier (…/crawler/textclassify/Crawler4Sina.java:
    33-80, rules sinaConfig.json): ordered rule table, first (lowest-priority)
    matching regex wins, fallback code '0000'. The rule table is collected and
    compiled into a literal CASE chain (commit bf7ae34): rlike with literal
    patterns compiles the regex once per plan, vs per-row recompilation in a
    non-literal rule join (measured ~6s vs <1s at sf0.1). The broadcast
    rule-join fallback only wins at O(1000s) of rules."""
    part = _t(spark, d, "part")
    rules = spark.createDataFrame(
        [(1, "widget|gizmo", "0101"), (2, "bolt|nut|gear", "0102"),
         (3, "red|blue", "0201")],
        "priority int, rx string, code string",
    )
    # rule table is config-as-data, but the physical plan compiles it to a
    # literal CASE chain (priority order = first match): rlike with a
    # non-literal pattern recompiles the regex per row inside the
    # nested-loop join — measured ~6s vs <1s at sf0.1. A broadcast rule
    # join only wins when rules number in the thousands.
    expr = F.lit("0000")
    for row in sorted(rules.collect(), key=lambda r: -r["priority"]):
        expr = F.when(F.col("p_name").rlike(row["rx"]), F.lit(row["code"])).otherwise(expr)
    return part.select("p_partkey", expr.alias("class_code"))


def f6_shape_guard_split(spark, d):
    """F6 null/shape guards + requeue (…/crawler/ms/Crawler4Dxy.java:101-104):
    invalid rows are not dropped — they are routed to a requeue branch; the
    split is observable as per-route counts."""
    c = _t(spark, d, "customer")
    route = F.when(F.col("c_acctbal") >= 0, F.lit("results")).otherwise(F.lit("requeue"))
    return (
        c.withColumn("route", route)
        .groupBy("c_mktsegment", "route")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
    )


def c4_c5_ts_roundtrip(spark, d):
    """C4/C5/C10 epoch↔date string helpers incl. ''-on-bad-input semantics
    (…/common/StringUtils.java:44-52,63-71; Crawler4PCAuto.java:635-648)."""
    o = _t(spark, d, "orders")
    epoch_str = F.unix_timestamp("o_orderdate").cast("string")
    date_str = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    return o.select(
        "o_orderkey",
        S.timestamp_to_date(epoch_str).alias("ts2date"),
        S.timestamp_to_date(F.lit("null")).alias("ts2date_bad"),
        S.date_to_timestamp(date_str).alias("date2ts"),
        S.date_to_timestamp(F.lit("not-a-date")).alias("date2ts_bad"),
        S.date_to_millis(date_str).alias("millis"),
        S.date_to_millis(F.lit("xx")).alias("millis_bad"),
    )


def c_misc_scalars(spark, d):
    """C11 after-colon, C12 万-price extraction, C17 url-decode, C18 template
    fill, C22 fixed-width key split — one projection exercising each."""
    c = _t(spark, d, "customer")
    key = F.col("c_custkey")
    label = F.concat(F.lit("价格: "), F.pmod(key, F.lit(100)).cast("string"), F.lit(".5万"))
    encoded = F.concat(F.lit("biz%3D"), key.cast("string"), F.lit("%26x%3D1"))
    bsid = F.substring(F.md5("c_name"), 1, 12)
    return c.select(
        "c_custkey",
        S.after_colon(F.concat(F.lit("名称: "), F.col("c_name"))).alias("after_colon"),
        S.extract_wan_price(label).alias("wan_price"),
        S.url_decode(encoded).alias("decoded"),
        F.format_string(
            "http://api.example.com/u/%d/p/%d", key, F.col("c_nationkey")
        ).alias("filled_url"),
        S.bsid_sid(bsid).alias("sid"),
        S.bsid_nid(bsid).alias("nid"),
        S.bsid_bid(bsid).alias("bid"),
    )


def c19_script_json(spark, d):
    """C19 JSON-in-<script> extraction (var config = {...};
    …/crawler/auto/Crawler4Autohome.java:150-163): regex pull + JSON field."""
    ev = _t(spark, d, "events")
    html = F.concat(
        F.lit("<html><script>var config = "), F.col("props"),
        F.lit(";</script><body>x</body></html>"),
    )
    inner = F.regexp_extract(html, r"var config = (\{.*?\});", 1)
    return ev.select("event_id", F.get_json_object(inner, "$.k").alias("cfg_k"))


_INS_ROWS = [(i, f"ins{i:02d}", ("life", "health", "car")[i % 3]) for i in range(11)]


def s7_static_table(spark, d):
    """S7 static in-code table (…/crawler/insurance/Crawler4Pingan.java:29-43):
    an 11-row literal DataFrame broadcast-joined against a fact table."""
    c = _t(spark, d, "customer")
    ins = spark.createDataFrame(_INS_ROWS, "idx int, ins_name string, ins_type string")
    return (
        c.withColumn("idx", F.pmod("c_nationkey", F.lit(11)).cast("int"))
        .join(F.broadcast(ins), "idx")
        .groupBy("ins_type")
        .agg(F.count(F.lit(1)).alias("n_cust"),
             F.countDistinct("idx").alias("n_products"))
    )


# Weather2345.txt-style JS-array lines (S6), a fixed literal corpus so the
# Spark text-scan+regex parse and the DuckDB regexp parse work the same
# input independently (…/crawler/tianqi/weather2345/Weather2345.java:94-182)
_S6_LINES = [
    'an[54094]=["0","北京|beijing|054094"];',
    'an[54511]=["1","海淀|haidian|054511"];',
    "junk line without a match",
    'an[58367]=["0","上海|shanghai|058367"];',
    'an[58457]=["1","杭州|hangzhou|058457"];',
    "var done = true;",
    'an[59287]=["0","广州|guangzhou|059287"];',
]

# write-once memo for the s6 fixture file (one temp dir per process)
_S6_FILE_MEMO: list = [None]


def s6_flat_file_scan(spark, d):
    """S6 flat-file scan: spark.read.text over a JS-array dictionary file,
    fields pulled out with regexp_extract — the Weather2345 parse
    (Weather2345.java:94-182) as a declarative scan instead of a
    BufferedReader loop. The file is materialized ONCE per process from
    the fixed literal corpus (ADVICE r03: a fresh mkdtemp per invocation
    leaked one dir per correctness run); the oracle parses the same lines
    from inline VALUES."""
    import tempfile

    path = _S6_FILE_MEMO[0]
    if path is None or not os.path.exists(path):
        tmp = tempfile.mkdtemp(prefix="s6_flat_")
        path = f"{tmp}/weather.txt"
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(_S6_LINES))
        _S6_FILE_MEMO[0] = path
    return (
        spark.read.text(path)
        .select(
            F.regexp_extract("value", r"an\[(\d+)\]", 1).alias("code"),
            F.regexp_extract("value", r'"\d+","([^|]+)\|', 1).alias("name"),
            F.regexp_extract("value", r"\|([a-z]+)\|", 1).alias("pinyin"),
        )
        .filter(F.col("code") != "")
    )


def s8_merge_latest(spark, d):
    """S8 wide-column put sink semantics end-to-end: build a (rowkey,
    family, cols map, crawl_iter) write log from orders, apply
    merge_latest (HBase put-overwrite: newest write per rowkey+family
    wins; o_orderkey is unique so the winner is deterministic), then
    pivot the map back to typed columns (sinks/tables.py)."""
    from dmp_crawler_spark.sinks import tables as sink

    orders = _t(spark, d, "orders")
    log = orders.select(
        F.col("o_custkey").cast("string").alias("rowkey"),
        F.lit("order_info").alias("family"),
        F.create_map(
            F.lit("status"), F.col("o_orderstatus"),
            F.lit("priority"), F.col("o_orderpriority"),
        ).alias("cols"),
        F.col("o_orderkey").alias("crawl_iter"),
    )
    merged = sink.merge_latest(log)
    return merged.select(
        "rowkey",
        F.element_at("cols", "status").alias("status"),
        F.element_at("cols", "priority").alias("priority"),
        F.col("crawl_iter").alias("last_orderkey"),
    )


def event_sessionize(spark, d):
    """Session windows in batch form (30-min inactivity gap): the stateful
    sessionization a training-data pipeline needs; cumulative-sum session ids,
    then per-user session stats."""
    ev = _t(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        ev.withColumn("new_s", new_s)
        .withColumn("sess_id", F.sum("new_s").over(cum))
        .groupBy("user_id", "sess_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias("dur"),
        )
    )
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.max("dur").alias("max_session_sec"),
    )


def fingerprint_dedup(spark, d):
    """Document fingerprinting (rolling 64-bit content hash over normalized
    text) as the exact-dedup key; oracle groups by the normalization itself —
    value-identical unless xxhash64 collides."""
    docs = _t(spark, d, "documents")
    return (
        docs.select("doc_id", TS.doc_fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("keep_id", "n_dups")
    )


# ---------------------------------------------------------------------------
# LSH / similarity / multimodal operators (oracle-checked against exact
# DuckDB replays)


def minhash_pairs_q(spark, d):
    """MinHash-LSH near-dup pair SET (id_a, id_b): banded signature buckets
    generate candidates, est_jaccard ≥ 0.5 selects pairs. Oracle = exact
    all-pairs shingle Jaccard ≥ 0.5 in DuckDB: on the planted-duplicate
    fixture the estimate and the exact value sit on the same side of the
    threshold for every pair (verified at sf0.001 and sf0.01), so the pair
    sets coincide and the comparison has teeth."""
    from dmp_crawler_spark.operators import dedup as dd
    docs = _t(spark, d, "documents").select("doc_id", "text")
    return (
        dd.minhash_lsh_pairs(docs, num_hashes=16, bands=8, k_shingle=3)
        .filter(F.col("est_jaccard") >= 0.5)
        .select("id_a", "id_b")
    )


def simhash_pairs_q(spark, d):
    """SimHash near-dup pairs with the SQL-reproducible md5 token hash
    (dedup.md5_token_hash, 60 bits) so DuckDB can recompute the identical
    signatures. The 4-band pigeonhole candidate step has an EXACT recall
    guarantee for hamming ≤ 3, so the result equals the oracle's all-pairs
    hamming scan by construction. The library default stays xxhash64."""
    from dmp_crawler_spark.operators import dedup as dd
    docs = _t(spark, d, "documents").select("doc_id", "text")
    return dd.simhash_near_pairs(
        docs, max_hamming=3, hash_expr=dd.md5_token_hash, n_bits=60
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def simhash_pairs_default(spark, d):
    """The PRODUCTION simhash path: library-default xxhash64 token hash,
    full 64 bits. Not in queries() — xxhash64 has no DuckDB replica, so
    there is no SQL oracle; it exists so bench.py measures the path users
    actually run (VERDICT r03: the suite's simhash number was the
    deliberately-slow md5 oracle-parity variant only). Same banded plan;
    only the per-token hash expression differs."""
    from dmp_crawler_spark.operators import dedup as dd
    docs = _t(spark, d, "documents").select("doc_id", "text")
    return dd.simhash_near_pairs(docs, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def ivf_topk_q(spark, d):
    """IVF top-k through the full index machinery (probe ordering, cell
    join, per-query ranking), verified against the exact DuckDB top-k.
    n_probe=8 of 8 cells: the fixture embeddings are uniform random 64-dim
    vectors, where near-neighbours do NOT concentrate in coarse cells, so
    any pruning loses recall (verified: n_probe<8 drops true top-5 members
    at sf0.001). Real pruning is exercised oracle-exact by ivf_topk_pruned
    (n_probe=2 of 8 on a clustered synth corpus); the recall/pruning
    trade-off is also covered by pytest (tests/test_operators.py)."""
    from dmp_crawler_spark.operators import similarity as sim
    emb = _t(spark, d, "embeddings")
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    indexed, centroids = sim.build_ivf_index(emb, n_cells=8)
    out = sim.ivf_topk(indexed, centroids, q, k=5, n_probe=8)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def ivf_topk_pruned(spark, d):
    """IVF top-k with REAL pruning exercised oracle-exact (VERDICT r03
    item 5): n_probe=2 of 8 cells, so the cell join touches 25% of the
    corpus, and the result still equals the exact DuckDB top-k. The
    uniform-random fixture embeddings have no cell locality, so a
    clustered corpus is synthesized deterministically from vec_id: cluster
    c = vec_id % 8, vector = 10·(axis-set c) + small arithmetic jitter —
    within-cluster cosine ≈ 1, cross-cluster ≈ 0, hence every true top-5
    lives in the query's own cluster and probing that cluster's cell
    first (plus one spare) is provably lossless. Centroids are the 8
    exact cluster directions via build_ivf_index's pre-trained-quantizer
    path; the library still does probe ordering, the cell join, and
    per-query ranking."""
    from dmp_crawler_spark.operators import similarity as sim

    vid = F.col("vec_id").cast("bigint")
    jitter = lambda j: (((vid * 31 + j * 7) % 19) / 19.0 - 0.5)  # noqa: E731
    clustered = _t(spark, d, "embeddings").select(
        "vec_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: (
                F.when(j % 8 == vid % 8, F.lit(10.0)).otherwise(F.lit(0.0))
                + jitter(j.cast("bigint"))
            ).cast("double"),
        ).alias("embedding"),
    )
    centroids = [
        [10.0 if j % 8 == c else 0.0 for j in range(64)] for c in range(8)
    ]
    q = clustered.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    indexed, cents = sim.build_ivf_index(clustered, n_cells=8, centroids=centroids)
    out = sim.ivf_topk(indexed, cents, q, k=5, n_probe=2)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def ngram_jaccard_q(spark, d):
    """n-gram Jaccard near-dup: LSH candidates then exact shingle-set
    Jaccard. Oracle = exact all-pairs Jaccard in DuckDB (list_intersect /
    list_distinct on the same 3-word shingle sets); LSH recall at the 0.5
    threshold verified exact on the planted-duplicate fixtures."""
    from dmp_crawler_spark.operators import dedup as dd
    docs = _t(spark, d, "documents").select("doc_id", "text")
    pairs = dd.ngram_jaccard_pairs(docs, k_shingle=3, threshold=0.5,
                                   num_hashes=16, bands=8)
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def dedup_clusters_q(spark, d):
    """Near-dup CLUSTERS (doc_id, cluster_id=min id of the connected
    component) over the LSH pair set — the production dedup shape (one
    representative per duplicate group) that pair-drop only approximates.
    Iterative min-label propagation (diameter-bounded rounds, one shuffle
    on the pair set per round). Oracle = exact all-pairs Jaccard pairs +
    recursive-CTE reachability closure in DuckDB; pair sets coincide at
    the 0.5 threshold on the planted-duplicate fixtures (as verified for
    minhash_pairs)."""
    from dmp_crawler_spark.operators import dedup as dd
    docs = _t(spark, d, "documents").select("doc_id", "text")
    return dd.near_dup_clusters(
        docs, threshold=0.5, num_hashes=16, bands=8, k_shingle=3
    ).select("doc_id", "cluster_id")


def multimodal_features_q(spark, d):
    """Multimodal plumbing: media rows derived deterministically from the
    sf dir's documents table (doc_id < 64), decode-stubbed feature pass,
    typed outputs. Reads the harness's parquet so the oracle can replay
    the same shape from the same table (round-2 verdict item 3)."""
    from dmp_crawler_spark.operators import multimodal as mm
    ids = (
        _t(spark, d, "documents")
        .select(F.col("doc_id").alias("media_id"))
        .filter(F.col("media_id") < 64)
    )
    media = mm.media_from_ids(ids)
    return mm.extract_features(media).select("media_id", "kind", "n_bytes")


_BFS_DIR_MEMO: list = [None]


def _bfs_engine(spark, d, **engine_kw):
    """Hard three-gate oracle for the crawl BFS loop (round-4 verdict #1;
    …/main/CrawlerManager.java:53-108 — the crawler4j controller loop the
    whole engine reimplements). The 'web' is synthesized deterministically
    from `part` so DuckDB can replay it: page i (p_partkey ≤ 400) lives at
    http://h{i%13}.test/{alpha|beta|gamma by i%3}/{i}.html and links to
    t = (i*17 + 29*j) % N for j = 1..1+i%4 (plus a blacklisted .jpg
    link when i%5==0 — the F1 gate must drop it). Site rules score alpha
    2.0 / beta 1.0 and leave gamma ruleless, so the shouldVisit gate drops
    gamma candidates. Seeds = i ∈ {2,3,5,7,11,23} plus one handcrafted
    URL under NO p_partkey — a permanent fetch-miss exercising the
    retry-then-fail path (S3/Q5) inside the oracle-checked output: it
    occupies one h1.test admission slot in all three iterations without
    ever producing a crawled row. The REAL CrawlEngine runs 3 iterations
    (admission = per-host top-3 by (depth, discovery_iter, score desc,
    url); link discovery through the html extractor; seen anti-join;
    frontier fold; checkpoint commits) and the oracle replays the same 3
    BFS iterations as unrolled SQL CTEs. Output = the visit log — budget,
    ordering, dedup, rule-gate and retry semantics are all load-bearing
    in the value hash. engine_kw overrides CrawlEngine's scale gates.
    Returns the engine after the crawl."""
    import shutil
    import tempfile
    from dmp_crawler_spark.frontier.scheduler import CorpusFetcher, CrawlEngine

    if _BFS_DIR_MEMO[0] is not None:
        shutil.rmtree(_BFS_DIR_MEMO[0], ignore_errors=True)
    tmp = tempfile.mkdtemp(prefix="crawl_bfs_")
    _BFS_DIR_MEMO[0] = tmp

    part = (
        _t(spark, d, "part")
        .select(F.col("p_partkey").cast("long").alias("i"))
        .filter(F.col("i") <= 400)
    )
    n = part.count()
    i = F.col("i")

    def _cls(c):
        return (
            F.when(c % 3 == 1, F.lit("alpha"))
            .when(c % 3 == 2, F.lit("beta"))
            .otherwise(F.lit("gamma"))
        )

    def _url(c):
        return F.concat(
            F.lit("http://h"), (c % 13).cast("string"), F.lit(".test/"),
            _cls(c), F.lit("/"), c.cast("string"), F.lit(".html"),
        )

    # link targets stay in-universe: p_partkey is contiguous 0..N-1 in the
    # driver's testdata, so (…) % N always lands on an existing page
    anchors = F.transform(
        F.sequence(F.lit(1), (i % 4 + 1).cast("int")),
        lambda j: F.concat(
            F.lit('<a href="'), _url((i * 17 + j * 29) % n), F.lit('">t</a>')
        ),
    )
    jpg = F.when(
        i % 5 == 0,
        F.concat(
            F.lit('<a href="http://h'), (i % 13).cast("string"),
            F.lit(".test/img/"), i.cast("string"), F.lit('.jpg">img</a>'),
        ),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><body>"), F.concat_ws("", anchors), jpg,
        F.lit("</body></html>"),
    )
    pages = part.select(
        _url(i).alias("url"),
        F.to_timestamp(F.lit("2016-08-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.lit("").alias("text"),
        F.lit("zh").alias("lang"),
    )
    corpus = f"{tmp}/pages"
    pages.write.mode("overwrite").parquet(corpus)

    def _u(iv: int) -> str:
        c = "alpha" if iv % 3 == 1 else ("beta" if iv % 3 == 2 else "gamma")
        return f"http://h{iv % 13}.test/{c}/{iv}.html"

    # six in-corpus seeds on six distinct hosts, plus one handcrafted URL
    # that exists under NO p_partkey (permanent fetch-miss → retry path);
    # its /void/ path matches no rule, so init_from_seeds scores it 0.0
    seeds = spark.createDataFrame(
        [(_u(s), "") for s in (2, 3, 5, 7, 11, 23)]
        + [("http://h1.test/void/missing.html", "")],
        "seed string, site string",
    )
    rules = spark.createDataFrame(
        [(r"^http://[^/]+/alpha/", 2.0), (r"^http://[^/]+/beta/", 1.0)],
        "url_regex string, score double",
    )
    eng = CrawlEngine(
        spark, f"{tmp}/state", CorpusFetcher(spark, corpus), rules,
        per_host_budget=3, n_bloom_shards=8, **engine_kw,
    )
    eng.init_from_seeds(seeds)
    eng.run(max_iters=3)
    return eng


def _visit_log(eng):
    return eng.crawled_df().select("url", "host", "depth", "crawl_iter")


def crawl_bfs_oracle(spark, d):
    """The BFS oracle crawl at the engine's default scale gates: the exact
    seen anti-join alone, the frontier folded into a fresh base."""
    return _visit_log(_bfs_engine(spark, d))


def crawl_bfs_expiry_oracle(spark, d):
    """J2 freshness re-admission on the BFS oracle crawl: after iteration
    3, readmit_expired(ttl_iters=1) puts every URL whose latest crawl is
    at iteration ≤ 2 and that is not pending back into the frontier. The
    output is the readmitted rows: the frontier after the readmission
    minus the frontier before it."""
    eng = _bfs_engine(spark, d)
    ck = eng.last_checkpoint()
    before = eng.frontier_view(ck["iter"], ck["frontier_base"])
    eng.readmit_expired(ttl_iters=1)
    ck = eng.last_checkpoint()
    return eng.frontier_view(ck["iter"], ck["frontier_base"]).join(
        before.select("url"), "url", "left_anti"
    ).select("url", "host", "depth", "discovery_iter", "score", "retry_count")


def crawl_bfs_scale_path(spark, d):
    """The same BFS oracle crawl with every scale gate at 0 — the path
    the frontier-heavy benchmark measures: bloom prefilter with layered
    shards (a 4-item first layer forces growth), shard-pruned seen
    anti-join, LSM frontier log and both compactions. The visit log must
    equal crawl_bfs_oracle's SQL replay."""
    return _visit_log(_bfs_engine(
        spark, d, bloom_min_seen=0, shard_prune_min_seen=0,
        lsm_min_frontier=0, compact_frontier_every=2, compact_seen_every=1,
        bloom_expected_per_shard=4,
    ))


def bmp_decode_stats(spark, d):
    """REAL multimodal decode (round-4 verdict #5): one 24-bit BMP per
    p_partkey ≤ 250 (odd ids stored top-down, even bottom-up), encoded
    executor-side by operators.multimodal.encode_bmp, then decoded by the
    strict=True path — a genuine pure-Python BMP parser (header, row
    padding, BGR order, both row directions), NOT the hash stub. Output =
    geometry + exact per-channel pixel sums + three pixel probes, all
    integers, re-derived by DuckDB from the pixel formula
    (R,G,B)(x,y) = ((x+i)%256, (2y+i)%256, (3x+5y+i)%256) without ever
    seeing a BMP byte — so the decode itself is what the hash checks."""
    from dmp_crawler_spark.operators import multimodal as MM

    ids = (
        _t(spark, d, "part")
        .select(F.col("p_partkey").cast("long").alias("media_id"))
        .filter(F.col("media_id") <= 250)
    )
    media = MM.bmp_media_from_ids(ids)
    feats = MM.extract_features(media, strict=True)
    f = F.col("feature")
    names = [
        "w", "h", "sum_r", "sum_g", "sum_b",
        "p00_r", "p00_g", "p00_b", "p12_r", "p12_g", "p12_b",
        "pwh_r", "pwh_g", "pwh_b",
    ]
    return feats.select(
        "media_id",
        *[f[k].cast("long").alias(nm) for k, nm in enumerate(names)],
    )


def wav_decode_stats(spark, d):
    """REAL multimodal audio decode (extends round-4 verdict #5 to a
    second format): one PCM WAV per p_partkey ≤ 250 (odd ids mono, even
    stereo; every third id carries an odd-length junk chunk so the
    RIFF chunk walk is load-bearing), encoded executor-side by
    operators.multimodal.encode_wav, then decoded by the strict=True
    path — a genuine pure-Python RIFF/PCM parser, NOT the hash stub.
    Output = header fields + exact per-channel sums + min/max + sample
    probes, all integers, re-derived by DuckDB from the sample formula
    ch0[t] = ((3t+i) mod 2000) − 1000, ch1[t] = ((7t+2i) mod 2000) − 1000
    without ever seeing a WAV byte — so the decode itself is what the
    hash checks."""
    from dmp_crawler_spark.operators import multimodal as MM

    ids = (
        _t(spark, d, "part")
        .select(F.col("p_partkey").cast("long").alias("media_id"))
        .filter(F.col("media_id") <= 250)
    )
    media = MM.wav_media_from_ids(ids)
    feats = MM.extract_features(media, strict=True)
    f = F.col("feature")
    names = [
        "sr", "n_channels", "n_frames", "bits", "sum0", "sum1",
        "min0", "max0", "s0_first", "s0_t1", "s0_last",
        "s1_first", "s1_last",
    ]
    return feats.select(
        "media_id",
        *[f[k].cast("long").alias(nm) for k, nm in enumerate(names)],
    )


def bmp_resize_stats(spark, d):
    """REAL distributed image resize (the 'resize' leg of the multimodal
    brief, previously unimplemented): each deterministic affine-formula
    BMP (one per p_partkey ≤ 250, W=8+i%9 × H=6+i%7) is decoded, resized
    to 5×4 by exact nearest-neighbor (src = (dst*extent)//out_extent),
    re-ENCODED as BMP, and the resized payload decoded again by the
    strict feature path — so decode, resize, encode and re-decode are all
    load-bearing in one chain. DuckDB re-derives every output from the
    pixel formula composed with the integer NN index map, never seeing a
    BMP byte."""
    from dmp_crawler_spark.operators import multimodal as MM

    ids = (
        _t(spark, d, "part")
        .select(F.col("p_partkey").cast("long").alias("media_id"))
        .filter(F.col("media_id") <= 250)
    )
    resized = MM.resize_bmp_media(MM.bmp_media_from_ids(ids), 5, 4)
    feats = MM.extract_features(resized, strict=True)
    f = F.col("feature")
    names = [
        "w", "h", "sum_r", "sum_g", "sum_b",
        "p00_r", "p00_g", "p00_b", "p12_r", "p12_g", "p12_b",
        "pwh_r", "pwh_g", "pwh_b",
    ]
    return feats.select(
        "media_id",
        *[f[k].cast("long").alias(nm) for k, nm in enumerate(names)],
    )


def shuffle_shards_q(spark, d):
    """Deterministic seeded corpus shuffle (training.shuffle_shards):
    the training-order shuffle every LLM-corpus build runs before
    writing shards. shard = 60-bit md5('42:'||doc_id) key mod 16, pos =
    dense rank of the key within the shard — a pure function of
    (seed, id), so retries/resumes/cluster-size changes reproduce the
    identical layout. One hash exchange + per-shard window rank, no
    global sort; DuckDB replays the same md5 key and window."""
    from dmp_crawler_spark.operators import training as TR

    docs = _t(spark, d, "documents").select("doc_id")
    out = TR.shuffle_shards(docs, n_shards=16, seed=42)
    return out.select(
        "doc_id",
        F.col("shard").cast("long").alias("shard"),
        F.col("pos").cast("long").alias("pos"),
    )


def repetition_filter(spark, d):
    """Gopher repetition rules (Rae et al. 2021 Table A1) over documents:
    duplicate-line fraction, duplicate-line character fraction, and the
    top word-bigram token fraction, gated at the published thresholds
    (≤0.30 / ≤0.20 / ≤0.18) — the boilerplate/spam filter every
    LLM-training-data sweep runs before dedup. The synthetic corpus is
    single-line, so line structure is simulated deterministically by
    breaking the text into two-token lines (every second inter-word space
    becomes a newline) — the tiny word-salad vocabulary then yields
    genuinely repeated lines AND bigrams, so all three stats are
    non-trivial and every arm of the operator is hash-checked."""
    from dmp_crawler_spark.operators import dedup as dd

    # single-split fixture scan: widen so the per-row list stats run
    # cluster-wide (no-op at real scale; see operators.dedup._widen_scan)
    docs = dd._widen_scan(_t(spark, d, "documents").select("doc_id", "text"))
    sim = docs.select(
        "doc_id",
        F.regexp_replace("text", r"(\S+ \S+) ", "$1\n").alias("text"),
    )
    return TS.repetition_stats(sim)


def line_dedup_clean(spark, d):
    """CCNet-style cross-document line dedup (Wenzek et al. 2019): drop
    every line whose normalized form appears in >2 distinct documents —
    the boilerplate filter (nav menus, banners, footers) that runs before
    document-level dedup in a web-text pipeline. Same deterministic line
    simulation idea as repetition_filter but at three-token granularity,
    which on this corpus yields ~3% corpus-repeated lines (measured
    max doc-freq 10) — so both the drop and keep arms carry real data and
    the ordered reassembly is hash-checked against DuckDB."""
    from dmp_crawler_spark.operators import dedup as dd

    docs = dd._widen_scan(_t(spark, d, "documents").select("doc_id", "text"))
    return dd.line_dedup(_three_token_lines(docs), max_doc_freq=2)


def pii_scrub_clean(spark, d):
    """PII redaction (the Dolma/ROOTS-style pass): emails, IPv4s, and
    dashed phone numbers replaced with typed tokens, with per-type
    counts. The corpus has no natural PII, so it is planted
    deterministically from doc_id (every 3rd doc an email, 4th an IP,
    5th a phone — some docs get several, most get none), then the scrub
    and counts are hash-checked against an identical DuckDB/RE2 replay —
    the patterns avoid constructs whose meaning differs between Java
    regex and RE2, and the test of that claim is this oracle."""
    from dmp_crawler_spark.operators import dedup as dd

    docs = dd._widen_scan(_t(spark, d, "documents").select("doc_id", "text"))
    did = F.col("doc_id")
    phone = F.when(did % 5 == 0, F.concat(
        F.lit(" call 021-5"),
        F.lpad((did % 1000).cast("string"), 3, "0"), F.lit("-0134"),
    )).otherwise(F.lit(""))
    sim = docs.select(
        "doc_id",
        F.concat(F.col("text"), *_planted_pii(did), phone).alias("text"),
    )
    return TS.pii_scrub(sim)


def c9_locale_parse(spark, d):
    """C9 locale datetime parse (Crawler4PCAuto.java:655-671,
    convertTimeString: SimpleDateFormat 'EEE MMM dd HH:mm:ss zzz yyyy' @
    GMT+8): java.util.Date.toString()-style strings are synthesized from
    orders, re-parsed with the weekday-stripped pattern (strings.
    parse_locale_datetime), rendered in UTC; every 7th row is garbage and
    must come back NULL."""
    o = _t(spark, d, "orders")
    key = F.col("o_orderkey")
    ts2 = F.to_timestamp("o_orderdate") + F.expr(
        "make_interval(0, 0, 0, 0, CAST(o_orderkey % 24 AS INT), "
        "CAST(o_orderkey % 60 AS INT), CAST(o_orderkey % 60 AS DOUBLE))"
    )
    raw = F.when(key % 7 == 0, F.lit("not a date")).otherwise(
        F.concat(
            F.date_format(ts2, "EEE MMM dd HH:mm:ss"),
            F.lit(" GMT+08:00 "),
            F.date_format(ts2, "yyyy"),
        )
    )
    return o.select(
        "o_orderkey",
        raw.alias("raw"),
        F.date_format(
            S.parse_locale_datetime(raw), "yyyy-MM-dd HH:mm:ss"
        ).alias("parsed"),
    )


def gpsspg_bs_import(spark, d):
    """Entry point B (Crawler4Gpsspg.loadAndSave): work scan → length-12
    gate → C22 bsid split → C18 URL → JSONP unwrap → status gate →
    result[0] fields. The work table and API payloads are synthesized
    deterministically from `part` (no external data), so DuckDB can replay
    the identical pipeline end-to-end. Pure Column ops throughout."""
    from jobs import gpsspg_import as gp

    part = _t(spark, d, "part")
    pk = F.col("p_partkey")
    bsid = F.when(
        pk % 10 == 0, F.lpad(pk.cast("string"), 11, "0")  # length-11 → gated out
    ).otherwise(F.lpad(pk.cast("string"), 12, "0"))
    work = part.select(
        bsid.alias("bsid"),
        F.lit("imsi1").alias("imsi"),
        F.when(pk % 13 == 0, F.lit("")).otherwise(F.lit("20160801")).alias("datetime"),
    )

    def fetcher(reqs):
        n = F.col("bsid").cast("int")
        good = F.concat(
            F.lit('jQuery12({"status":200,"result":[{"id":"bs'), n.cast("string"),
            F.lit('","lat":"3'), (n % 90).cast("string"),
            F.lit('.5","lng":"1'), (n % 80).cast("string"),
            F.lit('.25","radius":"'), (50 + n % 900).cast("string"),
            F.lit('","address":"地址'), (n % 1000).cast("string"),
            F.lit('","roads":"路'), (n % 50).cast("string"),
            F.lit('","rid":"r'), (n % 200).cast("string"),
            F.lit('","rids":"r'), (n % 200).cast("string"),
            F.lit(',r'), ((n + 1) % 200).cast("string"),
            F.lit('"}]})'),
        )
        payload = (
            F.when(n % 7 == 0, F.lit('jQuery12({"status":404})'))
            .when(n % 11 == 0, F.lit("not-a-jsonp-response"))
            .otherwise(good)
        )
        return reqs.withColumn("payload", payload)

    rows = gp.run_import(work, fetcher)
    return rows.select(
        "rowkey",
        *[F.element_at("cols", f).alias(f)
          for f in ["id", "lat", "lng", "radius", "address", "roads", "rid", "rids"]],
    )


def stock_import(spark, d):
    """Composed runner job: 10jqka stock base-info import
    (Crawler410jqka.java:73-221): 4-market union → totalPage parse → W3
    page unroll → API quote parse → per-stock detail enrich (J4) → wide
    rows. Homepage/API/detail payloads are synthesized deterministically
    as Column expressions (the per-page stock list keys off the nation
    table), so DuckDB replays the identical pipeline end-to-end."""
    from jobs import stock_import as st

    # per-page stock slots from the sf dir's nation table (n_nationkey
    # 0..24) — O(config) collect, the job's only data-plane input
    keys = [
        int(r[0])
        for r in _t(spark, d, "nation")
        .select("n_nationkey").orderBy("n_nationkey").collect()
    ]

    def home_fetcher(m):
        # '1/N' page_info span content; totalPage = 3 + market index
        return m.withColumn(
            "page_info",
            F.format_string("1/%d", F.col("market_idx") + F.lit(3)),
        )

    def code(jj):
        return F.format_string("%d%02d%02d0", F.col("market_idx"), F.col("page"), jj)

    def api_fetcher(pages):
        arr = F.transform(
            F.array(*[F.lit(k) for k in keys]),
            lambda jj: F.struct(
                code(jj).alias("stockcode"),
                F.concat(F.lit("id"), code(jj)).alias("stockid"),
                F.concat(F.lit("股票"), code(jj)).alias("stockname"),
            ),
        )
        return pages.withColumn("payload", F.to_json(F.struct(arr.alias("data"))))

    def detail_fetcher(ids):
        n = F.col("stockcode").cast("int")
        html = F.concat(
            F.lit('<dl class="company_details"><dd>地区'),
            (n % 30).cast("string"), F.lit("</dd>"),
            F.when(
                n % 4 != 0,
                F.concat(F.lit('<dd title="概念'), (n % 12).cast("string"),
                         F.lit('">c</dd>')),
            ).otherwise(F.lit("<dd>无</dd>")),
            F.lit("</dl>"),
        )
        # n % 17 == 0: the detail fetch keeps failing through the
        # reference's 3 retries → NULL payload → stockplate ''
        payload = F.when(n % 17 == 0, F.lit(None).cast("string")).otherwise(html)
        return ids.withColumn("payload", payload)

    rows = st.run_import(spark, home_fetcher, api_fetcher, detail_fetcher)
    return rows.select(
        "rowkey",
        *[F.element_at("cols", f).alias(f)
          for f in ["stockid", "stockname", "stockplate"]],
    )


def weather_import(spark, d):
    """Composed runner job: Weather2345 area-code import
    (Weather2345.java:35-182): JS-array flat-file parse (S6) → token regex
    → 'a'-prefix strip → parent self-join (J5) → wide rows. The file lines
    are synthesized deterministically from region (provinces, self-
    parented) and nation (counties, every even key 'a'-prefixed), so
    DuckDB replays the identical pipeline."""
    from jobs import weather_import as wt

    region = _t(spark, d, "region")
    nation = _t(spark, d, "nation")
    p_code = F.col("r_regionkey") + 1000
    ptoken = F.format_string(
        "%d-A %s-%d", p_code,
        F.concat(F.lit("省"), F.col("r_regionkey").cast("string")), p_code,
    )
    prov_line = region.select(ptoken.alias("t")).agg(
        F.concat(
            F.lit("prov[0]='"),
            F.array_join(F.sort_array(F.collect_list("t")), "|"),
            F.lit("'"),
        ).alias("line")
    )
    c_num = F.col("n_nationkey") + 2000
    c_code = F.when(
        F.col("n_nationkey") % 2 == 0,
        F.concat(F.lit("a"), c_num.cast("string")),
    ).otherwise(c_num.cast("string"))
    ctoken = F.format_string(
        "%s-B %s-%d", c_code,
        F.concat(F.lit("县"), F.col("n_nationkey").cast("string")),
        F.col("n_regionkey") + 1000,
    )
    qx_line = (
        nation.groupBy("n_regionkey")
        .agg(F.array_join(F.sort_array(F.collect_list(ctoken)), "|").alias("el"))
        .agg(
            F.concat(
                F.lit("provqx[1]=['"),
                F.array_join(F.sort_array(F.collect_list("el")), "','"),
                F.lit("']"),
            ).alias("line")
        )
    )
    junk = spark.createDataFrame([("var other = 1;",)], "line string")
    lines = prov_line.unionByName(qx_line).unionByName(junk)
    rows = wt.run_import(lines)
    return rows.select(
        "rowkey",
        *[F.element_at("cols", f).alias(f)
          for f in ["code", "name", "parent_code", "parent_name", "full_name"]],
    )


def chinaweather_import(spark, d):
    """Composed runner job: chinaweather city-code import (chinaweather/
    Application.java:52-138): province provshi JSON walk → station JSON
    walk → AreaPojo registry → 4-appCode fan-out → wide rows with the
    full_name rule. Provinces come from nation (101%02d codes); both
    fetchers synthesize flat-JSON payloads as Column expressions, with
    empty-payload gates at each level (every 7th province, every 5th
    city), variable city/station counts, and a station named exactly like
    its parent city (every city_code % 3 == 0) so full_name is exercised
    both ways. DuckDB replays the identical pipeline arithmetically."""
    from jobs import chinaweather_import as cw

    nation = _t(spark, d, "nation")
    n = F.col("n_nationkey").cast("int")
    provinces = nation.select(
        F.format_string("101%02d", n).alias("province"), n.alias("n")
    )

    def province_fetcher(reqs):
        # {key: cityName} with 1 + n%3 entries; cityName = 城市+cityCode
        def frag(k):
            return F.concat(
                F.lit(f'"0{k}":"城市'), F.col("province"), F.lit(f'0{k}"')
            )

        cnt = 1 + (F.col("n") % 3)
        payload = F.when(F.col("n") % 7 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("{"), frag(1),
                F.when(cnt >= 2, F.concat(F.lit(","), frag(2))).otherwise(F.lit("")),
                F.when(cnt >= 3, F.concat(F.lit(","), frag(3))).otherwise(F.lit("")),
                F.lit("}"),
            )
        )
        return reqs.withColumn("payload", payload)

    def station_fetcher(reqs):
        # {k: stationName} with 1 + city%2 entries; station 01 of every
        # city_code%3==0 city reuses the parent city name (full_name
        # collapse case); every 5th city returns an empty payload
        ci = F.col("city_code").cast("bigint")
        name1 = F.when(ci % 3 == 0, F.col("city_name")).otherwise(
            F.concat(F.lit("站"), F.col("city_code"), F.lit("01"))
        )
        s1 = F.concat(F.lit('"01":"'), name1, F.lit('"'))
        s2 = F.concat(F.lit(',"02":"站'), F.col("city_code"), F.lit('02"'))
        payload = F.when(ci % 5 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("{"), s1,
                F.when(1 + (ci % 2) >= 2, s2).otherwise(F.lit("")),
                F.lit("}"),
            )
        )
        return reqs.withColumn("payload", payload)

    rows = cw.run_import(provinces, province_fetcher, station_fetcher)
    return rows.select(
        "rowkey",
        *[F.element_at("cols", f).alias(f)
          for f in ["code", "name", "parent_code", "parent_name", "full_name"]],
    )


def s9_search_index(spark, d):
    """S9 Solr-sink analog: build the (term, id, tf) posting table over
    documents and run a ranked term-match search ('hash join scan') —
    most distinct terms matched first, then total tf, id tie-break."""
    from dmp_crawler_spark.sinks.search import build_search_index, search

    docs = _t(spark, d, "documents")
    idx = build_search_index(docs)
    out = search(idx, "hash join scan", k=10)
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_terms").cast("long").alias("n_terms"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("int").alias("rank"),
    )


def c24_fragment_fold(spark, d):
    """C24/C21 as relational Column ops (the Zhishiku fold,
    …/crawler/ms/Crawler4Zhishiku.java:173-199): synthesize an HTML-ish
    fragment from each document, split on '<hr>', rewrite '<br>'→'&&',
    colon-split the first fragment into key + '&&'-list (third+ colon
    parts dropped), fastjson-style '"'→\"'\" quote swap, and assemble the
    JSON list string manually so the bytes match the SQL oracle."""
    docs = _t(spark, d, "documents")
    frag = F.concat(
        F.lit("主治:"), F.substring("text", 1, 40),
        F.lit("<br>"), F.substring("text", 41, 40),
        F.lit("<hr>"),
        F.lit('备注"'), F.substring("text", 81, 20), F.lit('"'),
    )
    parts = F.split(frag, "<hr>")
    first = F.regexp_replace(F.element_at(parts, 1), "<br>", "&&")
    kv = F.split(first, ":")
    vals = F.split(F.element_at(kv, 2), "&&")
    vals_json = F.concat(
        F.lit("["),
        F.array_join(
            F.transform(
                vals,
                lambda v: F.concat(
                    F.lit('"'), F.regexp_replace(v, '"', "'"), F.lit('"')
                ),
            ),
            ",",
        ),
        F.lit("]"),
    )
    plain = F.regexp_replace(F.element_at(parts, 2), '"', "'")
    return docs.select(
        "doc_id",
        F.size(parts).alias("n_sections"),
        F.element_at(kv, 1).alias("first_key"),
        vals_json.alias("first_vals_json"),
        plain.alias("plain_tail"),
    )


def weixin_import_smoke(spark, d):
    """Entry point C, now whole-pipeline oracle-checked (round-2 verdict
    item 4): work scan (date/partition filters, GROUP BY dedup, %3D
    URL-decode AFTER dedup) → art anti-join + INVERTED biz-expiry gate
    (the WXEntityImporter.java:130-139 quirk) → template fetch → selector
    extract (empty-code pages gated out) → merge sink, on fixtures derived
    deterministically from the sf dir's part table. The output exposes the
    SQL-derivable fields (rowkey + article_content, which embeds the raw
    seed); the _mix-derived page fields are pinned by
    tests/test_weixin_job.py instead."""
    from datetime import datetime, timezone

    from dmp_crawler_spark.corpus.templates import build_weixin_page
    from jobs import weixin_import as wx

    part = _t(spark, d, "part").filter(F.col("p_partkey") <= 40)
    i = F.col("p_partkey")
    biz = F.concat(
        F.lit("b"), (i % 3).cast("string"),
        F.when(i % 10 == 0, F.lit("%3D")).otherwise(F.lit("")),
    )
    weixin = part.select(
        biz.alias("biz"),
        F.concat(F.lit("m"), (i % 4).cast("string")).alias("mid"),
        (i % 2).cast("string").alias("idx"),
        F.concat(F.lit("s"), (i % 2).cast("string")).alias("sn"),
        F.when(i % 11 == 0, F.lit("20150101000000"))
        .otherwise(F.lit("20160830120000")).alias("data_time"),
        F.when(i % 13 == 0, F.lit("other")).otherwise(F.lit("src"))
        .alias("partition_source"),
    )
    # existing-article rows (J1 anti-join fixture): plain-biz rowkeys
    art_seen = part.filter(i % 8 == 5).select(
        F.concat_ws(
            "_",
            F.concat(F.lit("b"), (i % 3).cast("string")),
            F.concat(F.lit("m"), (i % 4).cast("string")),
            (i % 2).cast("string"),
            F.concat(F.lit("s"), (i % 2).cast("string")),
        ).alias("rowkey")
    ).distinct()
    # biz table: b1 fresh (NOT expired ⇒ re-crawl, the inverted gate),
    # b2 stale (expired ⇒ skipped)
    biz_table = spark.createDataFrame(
        [("b1", datetime(2016, 8, 20)), ("b2", datetime(2016, 2, 1))],
        "rowkey string, updated_ts timestamp",
    )

    def fetcher(plan):
        from pyspark.sql import types as T

        def run(batches):
            for pdf in batches:
                pdf = pdf.copy()
                pdf["html"] = [
                    # m2/s0 pages are blocked placeholders: weixin_code ''
                    build_weixin_page(b, m, ix, s,
                                      empty_code=(m == "m2" and s == "s0"))
                    for b, m, ix, s in zip(pdf["biz"], pdf["mid"],
                                           pdf["idx"], pdf["sn"])
                ]
                yield pdf

        schema = T.StructType(plan.schema.fields + [T.StructField("html", T.StringType())])
        return plan.mapInPandas(run, schema)

    art, biz_out = wx.run_import(
        spark, weixin, fetcher, "201608", "src",
        datetime(2016, 9, 1, tzinfo=timezone.utc),
        art_table=art_seen, biz_table=biz_table,
    )
    return art.select(
        F.lit("art").alias("tbl"),
        "rowkey",
        F.element_at("cols", "article_content").alias("val"),
    ).unionByName(
        biz_out.select(
            F.lit("biz").alias("tbl"),
            "rowkey",
            F.element_at("cols", "biz").alias("val"),
        )
    )


# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Insertion order matters: the driver's correctness harness checks the
    # FIRST 50 entries only (rows exist for positions 1-50, never 51+).
    # Rotation discipline: the entries with no row in the newest
    # correctness run lead, new entries join them, and the rest follow in
    # their previous order, so every entry that misses one round's window
    # leads the next.
    return {
        # --- no row in CORRECTNESS_r05.json, plus the new crawl_bfs_scale_path
        # and crawl_bfs_expiry_oracle ---
        "ann_topk": ann_topk,
        "embedding_near_pairs": embedding_near_pairs,
        "f3_regex_taxonomy": f3_regex_taxonomy,
        "f6_shape_guard_split": f6_shape_guard_split,
        "event_sessionize": event_sessionize,
        "fingerprint_dedup": fingerprint_dedup,
        "c24_fragment_fold": c24_fragment_fold,
        "s9_search_index": s9_search_index,
        "gpsspg_bs_import": gpsspg_bs_import,
        "s6_flat_file_scan": s6_flat_file_scan,
        "s8_merge_latest": s8_merge_latest,
        "stock_import": stock_import,
        "weather_import": weather_import,
        "a1_distinct": a1_distinct,
        "c_misc_scalars": c_misc_scalars,
        "c9_locale_parse": c9_locale_parse,
        "f2_page_class": f2_page_class,
        "w3_pagination": w3_pagination,
        "s1_seed_explode": s1_seed_explode,
        "f1_extension_filter": f1_extension_filter,
        "c4_c5_ts_roundtrip": c4_c5_ts_roundtrip,
        "c19_script_json": c19_script_json,
        "event_hourly": event_hourly,
        "event_gaps": event_gaps,
        "j5_self_join_pairs": j5_self_join_pairs,
        "crawl_bfs_scale_path": crawl_bfs_scale_path,
        "crawl_bfs_expiry_oracle": crawl_bfs_expiry_oracle,
        # --- checked in CORRECTNESS_r05.json, in their previous order ---
        "a3_count_distinct": a3_count_distinct,
        "w2_first_match": w2_first_match,
        "f4_recency_filter": f4_recency_filter,
        "f5_junk_filter": f5_junk_filter,
        "set_union_distinct": set_union_distinct,
        "c1_regex_extract": c1_regex_extract,
        "c2_c3_clean": c2_c3_clean,
        "c13_c15_encodings": c13_c15_encodings,
        "semi_join_exists": semi_join_exists,
        "c20_jsonp_unwrap": c20_jsonp_unwrap,
        "s7_static_table": s7_static_table,
        "crawl_bfs_oracle": crawl_bfs_oracle,
        "bmp_decode_stats": bmp_decode_stats,
        "wav_decode_stats": wav_decode_stats,
        "bmp_resize_stats": bmp_resize_stats,
        "shuffle_shards": shuffle_shards_q,
        "repetition_filter": repetition_filter,
        "line_dedup_clean": line_dedup_clean,
        "pii_scrub_clean": pii_scrub_clean,
        "corpus_clean_v2": corpus_clean_v2,
        "decontaminate_bench": decontaminate_bench,
        "domain_mix_audit": domain_mix_audit,
        "pack_sequences": pack_sequences_q,
        "unigram_ppl": unigram_ppl,
        "assemble_training": assemble_training,
        "dedup_clusters": dedup_clusters_q,
        "multimodal_features": multimodal_features_q,
        "weixin_import_smoke": weixin_import_smoke,
        "ngram_jaccard": ngram_jaccard_q,
        "minhash_pairs": minhash_pairs_q,
        "simhash_pairs": simhash_pairs_q,
        "ivf_topk": ivf_topk_q,
        "chinaweather_import": chinaweather_import,
        "ivf_topk_pruned": ivf_topk_pruned,
        "corpus_clean": corpus_clean,
        "q1_pricing_summary": q1_pricing_summary,
        "a2_collect_set_str": a2_collect_set_str,
        "j1_anti_join_seen": j1_anti_join_seen,
        "j2_freshness_expiry": j2_freshness_expiry,
        "j3_broadcast_lookup": j3_broadcast_lookup,
        "j4_enrichment_join": j4_enrichment_join,
        "w1_priority_ranking": w1_priority_ranking,
        "a4_map_assembly": a4_map_assembly,
        "c_dates_pipeline": c_dates_pipeline,
        "c14_md5_dedup": c14_md5_dedup,
        "lang_id": lang_id,
        "token_counts": token_counts,
        "quality_score": quality_score,
        "dedup_exact_norm": dedup_exact_norm,
    }


# DuckDB replica of functions.textstats.shingles(text, 3) + array_distinct:
# 3-word shingles over whitespace-split lowercased trimmed text, whole text
# as the single shingle when shorter than 3 tokens.
_SHINGLE_SQL = """
    SELECT doc_id,
           list_distinct(
             CASE WHEN len(toks) >= 3
                  THEN [array_to_string(toks[i:i+2], ' ')
                        for i in generate_series(1, len(toks) - 2)]
                  ELSE [array_to_string(toks, ' ')] END
           ) AS sh
    FROM (SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents)
"""


# BFS replay of the crawl loop (see crawl_bfs_oracle docstring):
# the same deterministic web derived from `part`, three iterations
# unrolled as CTEs — admission = per-host top-3 by the engine's
# exact priority key; fetch-miss retry, link expansion, rule gate
# and seen anti-join all replayed.
_BFS_CTES = """
            WITH
            nn AS (SELECT CAST(count(*) AS BIGINT) AS n
                   FROM part WHERE p_partkey <= 400),
            pgu AS (
              SELECT i, 'h' || (i % 13) || '.test' AS host,
                     CASE (i % 3) WHEN 1 THEN 2.0 WHEN 2 THEN 1.0
                          ELSE NULL END AS score,
                     'http://h' || (i % 13) || '.test/' ||
                       CASE (i % 3) WHEN 1 THEN 'alpha' WHEN 2 THEN 'beta'
                            ELSE 'gamma' END ||
                       '/' || i || '.html' AS url
              FROM (SELECT CAST(p_partkey AS BIGINT) AS i
                    FROM part WHERE p_partkey <= 400)
            ),
            edges AS (
              SELECT p.i AS src,
                     (p.i * 17 + 29 * j.j) % (SELECT n FROM nn) AS dst
              FROM pgu p
              JOIN (VALUES (1),(2),(3),(4)) AS j(j) ON j.j <= 1 + (p.i % 4)
            ),
            f0 AS (
              SELECT p.url, p.host, 0 AS depth, 0 AS discovery_iter,
                     coalesce(p.score, 0.0) AS score, 0 AS retry_count, p.i
              FROM pgu p WHERE p.i IN (2,3,5,7,11,23)
              UNION ALL
              SELECT 'http://h1.test/void/missing.html', 'h1.test',
                     0, 0, 0.0, 0, CAST(-1 AS BIGINT)
            ),
            seen0 AS (SELECT url FROM f0),
            adm1 AS (
              SELECT url, host, depth, discovery_iter, score, retry_count, i
              FROM (SELECT f.*, row_number() OVER (
                      PARTITION BY host
                      ORDER BY depth, discovery_iter, score DESC, url) AS rn
                    FROM f0 f) WHERE rn <= 3
            ),
            crawl1 AS (
              SELECT a.url, a.host, a.depth, a.score, 1 AS crawl_iter
              FROM adm1 a JOIN pgu p ON a.i = p.i
            ),
            retry1 AS (
              SELECT a.url, a.host, a.depth, a.discovery_iter, a.score,
                     a.retry_count + 1 AS retry_count, a.i
              FROM adm1 a LEFT JOIN pgu p ON a.i = p.i
              WHERE p.i IS NULL AND a.retry_count + 1 < 3
            ),
            new1 AS (
              SELECT c.url, c.host, c.depth, 1 AS discovery_iter, c.score,
                     0 AS retry_count, c.i
              FROM (SELECT t.url, t.host, min(a.depth) + 1 AS depth,
                           t.score, t.i
                    FROM adm1 a
                    JOIN edges e ON e.src = a.i
                    JOIN pgu t ON t.i = e.dst
                    WHERE t.score IS NOT NULL
                    GROUP BY t.url, t.host, t.score, t.i) c
              WHERE c.url NOT IN (SELECT url FROM seen0)
            ),
            f1 AS (
              SELECT f.url, f.host, f.depth, f.discovery_iter, f.score,
                     f.retry_count, f.i
              FROM f0 f WHERE f.url NOT IN (SELECT url FROM adm1)
              UNION ALL SELECT * FROM new1
              UNION ALL SELECT * FROM retry1
            ),
            seen1 AS (SELECT url FROM seen0 UNION ALL SELECT url FROM new1),
            adm2 AS (
              SELECT url, host, depth, discovery_iter, score, retry_count, i
              FROM (SELECT f.*, row_number() OVER (
                      PARTITION BY host
                      ORDER BY depth, discovery_iter, score DESC, url) AS rn
                    FROM f1 f) WHERE rn <= 3
            ),
            crawl2 AS (
              SELECT a.url, a.host, a.depth, a.score, 2 AS crawl_iter
              FROM adm2 a JOIN pgu p ON a.i = p.i
            ),
            retry2 AS (
              SELECT a.url, a.host, a.depth, a.discovery_iter, a.score,
                     a.retry_count + 1 AS retry_count, a.i
              FROM adm2 a LEFT JOIN pgu p ON a.i = p.i
              WHERE p.i IS NULL AND a.retry_count + 1 < 3
            ),
            new2 AS (
              SELECT c.url, c.host, c.depth, 2 AS discovery_iter, c.score,
                     0 AS retry_count, c.i
              FROM (SELECT t.url, t.host, min(a.depth) + 1 AS depth,
                           t.score, t.i
                    FROM adm2 a
                    JOIN edges e ON e.src = a.i
                    JOIN pgu t ON t.i = e.dst
                    WHERE t.score IS NOT NULL
                    GROUP BY t.url, t.host, t.score, t.i) c
              WHERE c.url NOT IN (SELECT url FROM seen1)
            ),
            f2 AS (
              SELECT f.url, f.host, f.depth, f.discovery_iter, f.score,
                     f.retry_count, f.i
              FROM f1 f WHERE f.url NOT IN (SELECT url FROM adm2)
              UNION ALL SELECT * FROM new2
              UNION ALL SELECT * FROM retry2
            ),
            seen2 AS (SELECT url FROM seen1 UNION ALL SELECT url FROM new2),
            adm3 AS (
              SELECT url, host, depth, discovery_iter, score, retry_count, i
              FROM (SELECT f.*, row_number() OVER (
                      PARTITION BY host
                      ORDER BY depth, discovery_iter, score DESC, url) AS rn
                    FROM f2 f) WHERE rn <= 3
            ),
            crawl3 AS (
              SELECT a.url, a.host, a.depth, a.score, 3 AS crawl_iter
              FROM adm3 a JOIN pgu p ON a.i = p.i
            ),
            visits AS (
              SELECT * FROM crawl1 UNION ALL SELECT * FROM crawl2
              UNION ALL SELECT * FROM crawl3
            )"""
_BFS_ORACLE_SQL = _BFS_CTES + """
            SELECT url, host, depth, crawl_iter FROM visits
"""
# ... and the expiry re-admission after it (crawl_bfs_expiry_oracle): the
# frontier after iteration 3, the latest crawl per url, and every url
# last crawled at iteration ≤ 3 − ttl (1) that is not pending
_BFS_EXPIRY_ORACLE_SQL = _BFS_CTES + """,
            retry3 AS (
              SELECT a.url, a.host, a.depth, a.discovery_iter, a.score,
                     a.retry_count + 1 AS retry_count, a.i
              FROM adm3 a LEFT JOIN pgu p ON a.i = p.i
              WHERE p.i IS NULL AND a.retry_count + 1 < 3
            ),
            new3 AS (
              SELECT c.url, c.host, c.depth, 3 AS discovery_iter, c.score,
                     0 AS retry_count, c.i
              FROM (SELECT t.url, t.host, min(a.depth) + 1 AS depth,
                           t.score, t.i
                    FROM adm3 a
                    JOIN edges e ON e.src = a.i
                    JOIN pgu t ON t.i = e.dst
                    WHERE t.score IS NOT NULL
                    GROUP BY t.url, t.host, t.score, t.i) c
              WHERE c.url NOT IN (SELECT url FROM seen2)
            ),
            f3 AS (
              SELECT f.url FROM f2 f WHERE f.url NOT IN (SELECT url FROM adm3)
              UNION ALL SELECT url FROM new3
              UNION ALL SELECT url FROM retry3
            ),
            latest AS (
              SELECT * FROM (SELECT v.*, row_number() OVER (
                      PARTITION BY url ORDER BY crawl_iter DESC) AS rn
                    FROM visits v) WHERE rn = 1
            )
            SELECT url, host, depth, 3 AS discovery_iter,
                   CAST(score AS DOUBLE) AS score, 0 AS retry_count
            FROM latest
            WHERE crawl_iter <= 3 - 1 AND url NOT IN (SELECT url FROM f3)
"""


def oracle_sql() -> dict[str, str]:
    return {
        # both BFS crawls (default gates, every scale gate at 0) replay
        # to the same visit log
        "crawl_bfs_oracle": _BFS_ORACLE_SQL,
        "crawl_bfs_scale_path": _BFS_ORACLE_SQL,
        "crawl_bfs_expiry_oracle": _BFS_EXPIRY_ORACLE_SQL,
        # re-derives the BMP decode output from the pixel formula alone
        # (no BMP bytes on the oracle side — see bmp_decode_stats)
        "bmp_decode_stats": """
            WITH ids AS (SELECT CAST(p_partkey AS BIGINT) AS i
                         FROM part WHERE p_partkey <= 250),
            dims AS (SELECT i, 8 + (i % 9) AS w, 6 + (i % 7) AS h FROM ids),
            grid AS (
              SELECT d.i, d.w, d.h, x.x, y.y
              FROM dims d
              JOIN (SELECT unnest(generate_series(0, 16)) AS x) x ON x.x < d.w
              JOIN (SELECT unnest(generate_series(0, 12)) AS y) y ON y.y < d.h
            )
            SELECT i AS media_id,
                   CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
                   CAST(sum((x + i) % 256) AS BIGINT) AS sum_r,
                   CAST(sum((2*y + i) % 256) AS BIGINT) AS sum_g,
                   CAST(sum((3*x + 5*y + i) % 256) AS BIGINT) AS sum_b,
                   CAST(i % 256 AS BIGINT) AS p00_r,
                   CAST(i % 256 AS BIGINT) AS p00_g,
                   CAST(i % 256 AS BIGINT) AS p00_b,
                   CAST((1 + i) % 256 AS BIGINT) AS p12_r,
                   CAST((4 + i) % 256 AS BIGINT) AS p12_g,
                   CAST((13 + i) % 256 AS BIGINT) AS p12_b,
                   CAST((w - 1 + i) % 256 AS BIGINT) AS pwh_r,
                   CAST((2*(h-1) + i) % 256 AS BIGINT) AS pwh_g,
                   CAST((3*(w-1) + 5*(h-1) + i) % 256 AS BIGINT) AS pwh_b
            FROM grid
            GROUP BY i, w, h
        """,
        # re-derives the RESIZED image stats from the pixel formula
        # composed with the integer nearest-neighbor index map
        # (no BMP bytes on the oracle side — see bmp_resize_stats)
        "bmp_resize_stats": """
            WITH ids AS (SELECT CAST(p_partkey AS BIGINT) AS i
                         FROM part WHERE p_partkey <= 250),
            dims AS (SELECT i, 8 + (i % 9) AS w, 6 + (i % 7) AS h FROM ids),
            grid AS (
              SELECT d.i, d.w, d.h,
                     (x.x * d.w) // 5 AS sx,
                     (y.y * d.h) // 4 AS sy
              FROM dims d
              JOIN (SELECT unnest(generate_series(0, 4)) AS x) x ON true
              JOIN (SELECT unnest(generate_series(0, 3)) AS y) y ON true
            )
            SELECT i AS media_id,
                   CAST(5 AS BIGINT) AS w, CAST(4 AS BIGINT) AS h,
                   CAST(sum((sx + i) % 256) AS BIGINT) AS sum_r,
                   CAST(sum((2*sy + i) % 256) AS BIGINT) AS sum_g,
                   CAST(sum((3*sx + 5*sy + i) % 256) AS BIGINT) AS sum_b,
                   CAST(i % 256 AS BIGINT) AS p00_r,
                   CAST(i % 256 AS BIGINT) AS p00_g,
                   CAST(i % 256 AS BIGINT) AS p00_b,
                   CAST(((w // 5) + i) % 256 AS BIGINT) AS p12_r,
                   CAST((2 * ((2 * h) // 4) + i) % 256 AS BIGINT) AS p12_g,
                   CAST((3 * (w // 5) + 5 * ((2 * h) // 4) + i) % 256
                        AS BIGINT) AS p12_b,
                   CAST(((4 * w) // 5 + i) % 256 AS BIGINT) AS pwh_r,
                   CAST((2 * ((3 * h) // 4) + i) % 256 AS BIGINT) AS pwh_g,
                   CAST((3 * ((4 * w) // 5) + 5 * ((3 * h) // 4) + i) % 256
                        AS BIGINT) AS pwh_b
            FROM grid
            GROUP BY i, w, h
        """,
        # re-derives the WAV decode output from the sample formula alone
        # (no WAV bytes on the oracle side — see wav_decode_stats)
        "wav_decode_stats": """
            WITH ids AS (SELECT CAST(p_partkey AS BIGINT) AS i
                         FROM part WHERE p_partkey <= 250),
            par AS (SELECT i,
                           400 + (i * 37) % 257 AS n,
                           8000 + (i % 4) * 4000 AS sr,
                           CASE WHEN i % 2 = 1 THEN 1 ELSE 2 END AS nch
                    FROM ids),
            samp AS (
              SELECT p.i, p.n, p.sr, p.nch, u.t,
                     ((3 * u.t + p.i) % 2000) - 1000 AS s0,
                     ((7 * u.t + 2 * p.i) % 2000) - 1000 AS s1
              FROM par p
              JOIN (SELECT unnest(generate_series(0, 656)) AS t) u
                ON u.t < p.n
            )
            SELECT i AS media_id,
                   CAST(sr AS BIGINT) AS sr,
                   CAST(nch AS BIGINT) AS n_channels,
                   CAST(n AS BIGINT) AS n_frames,
                   CAST(16 AS BIGINT) AS bits,
                   CAST(sum(s0) AS BIGINT) AS sum0,
                   CAST(CASE WHEN nch = 2 THEN sum(s1) ELSE 0 END
                        AS BIGINT) AS sum1,
                   CAST(min(s0) AS BIGINT) AS min0,
                   CAST(max(s0) AS BIGINT) AS max0,
                   CAST(max(CASE WHEN t = 0 THEN s0 END) AS BIGINT)
                     AS s0_first,
                   CAST(max(CASE WHEN t = 1 THEN s0 END) AS BIGINT)
                     AS s0_t1,
                   CAST(max(CASE WHEN t = n - 1 THEN s0 END) AS BIGINT)
                     AS s0_last,
                   CAST(CASE WHEN nch = 2
                             THEN max(CASE WHEN t = 0 THEN s1 END)
                             ELSE 0 END AS BIGINT) AS s1_first,
                   CAST(CASE WHEN nch = 2
                             THEN max(CASE WHEN t = n - 1 THEN s1 END)
                             ELSE 0 END AS BIGINT) AS s1_last
            FROM samp
            GROUP BY i, sr, nch, n
        """,
        # deterministic seeded shuffle: same 60-bit md5 order key and
        # per-shard window rank as training.shuffle_shards
        "shuffle_shards": """
            WITH k AS (
              SELECT doc_id,
                     ('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)),
                                     1, 15))::BIGINT AS k
              FROM documents
            )
            SELECT doc_id,
                   CAST(k % 16 AS BIGINT) AS shard,
                   CAST(row_number() OVER (PARTITION BY k % 16
                                           ORDER BY k, doc_id)
                        AS BIGINT) AS pos
            FROM k
        """,
        # the full assembly pipeline replayed in one statement:
        # decontaminate (drop) → md5-rate mix → seeded shuffle → pack
        "assemble_training": """
            WITH toks0 AS (
                SELECT doc_id, source,
                       string_split_regex(trim(lower(text)), '\\s+') AS toks,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS n_tokens
                FROM documents
            ),
            grams AS (
                SELECT doc_id,
                       list_distinct(
                         CASE WHEN len(toks) >= 8
                              THEN [array_to_string(toks[i:i+7], ' ')
                                    for i in generate_series(1, len(toks) - 7)]
                              ELSE [array_to_string(toks, ' ')] END
                       ) AS sh
                FROM toks0
            ),
            doc_grams AS (
                SELECT doc_id, unnest(sh) AS gram, len(sh) AS n_grams
                FROM grams
            ),
            bench AS (
                SELECT DISTINCT unnest(sh) AS gram FROM grams
                WHERE doc_id % 97 = 0
            ),
            contaminated AS (
                SELECT d.doc_id
                FROM doc_grams d JOIN bench USING (gram)
                GROUP BY d.doc_id
                HAVING count(*) >= 0.5 * any_value(n_grams)
            ),
            clean AS (
                SELECT t.doc_id, t.source, t.n_tokens
                FROM toks0 t ANTI JOIN contaminated c ON t.doc_id = c.doc_id
            ),
            w AS (
                SELECT source,
                       (('0x' || substr(md5(source), 1, 4))::BIGINT % 4) * 8750
                         AS rate_bp
                FROM (SELECT DISTINCT source FROM documents)
            ),
            mixed AS (
                SELECT c.doc_id, c.n_tokens,
                       unnest(generate_series(1,
                         CAST((w.rate_bp // 10000)
                           + CASE WHEN ('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)),
                                                       1, 4))::BIGINT % 10000
                                       < w.rate_bp % 10000
                                  THEN 1 ELSE 0 END AS BIGINT))) AS epoch
                FROM clean c JOIN w USING (source)
            ),
            keyed AS (
                SELECT doc_id, epoch, n_tokens,
                       CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)
                         AS mix_id,
                       ('0x' || substr(md5('7:' || CAST(doc_id AS VARCHAR)
                                           || '#' || CAST(epoch AS VARCHAR)),
                                       1, 15))::BIGINT AS k
                FROM mixed
            ),
            sh AS (
                SELECT doc_id, epoch, n_tokens, k % 8 AS shard,
                       row_number() OVER (PARTITION BY k % 8
                                          ORDER BY k, mix_id) AS pos
                FROM keyed
            ),
            o AS (
                SELECT doc_id, epoch, shard, pos, n_tokens,
                       sum(n_tokens) OVER (
                           PARTITION BY shard ORDER BY pos
                           ROWS UNBOUNDED PRECEDING
                       ) - n_tokens AS start_off
                FROM sh
            )
            SELECT doc_id,
                   CAST(epoch AS BIGINT) AS epoch,
                   CAST(shard AS BIGINT) AS shard,
                   CAST(pos AS BIGINT) AS pos,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST(start_off AS BIGINT) AS start_off,
                   CAST(start_off // 1024 AS BIGINT) AS first_seq,
                   CAST((start_off + greatest(n_tokens, 1) - 1) // 1024
                        AS BIGINT) AS last_seq
            FROM o
        """,
        # Gopher repetition rules replayed with DuckDB list functions;
        # same two-token-line simulation as the Spark side
        "repetition_filter": """
            WITH sim AS (
                SELECT doc_id,
                       regexp_replace(text, '(\\S+ \\S+) ',
                                      '\\1' || chr(10), 'g') AS text
                FROM documents
            ), base AS (
                SELECT doc_id,
                       list_filter(list_transform(string_split(text, chr(10)),
                                                  x -> trim(x)),
                                   x -> x <> '') AS lines,
                       list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                   x -> x <> '') AS toks
                FROM sim
            ), st AS (
                SELECT doc_id, toks,
                       len(lines) AS n_lines,
                       len(list_distinct(lines)) AS n_dist,
                       coalesce(list_sum(list_transform(lines, x -> length(x))), 0)
                         AS tot_chars,
                       coalesce(list_sum(list_transform(list_distinct(lines),
                                                        x -> length(x))), 0)
                         AS dist_chars,
                       len(toks) AS n_tok
                FROM base
            ), big AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, n_tok),
                                             i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM st WHERE n_tok >= 2
            ), cnt AS (
                SELECT doc_id, bg, count(*) AS c FROM big GROUP BY doc_id, bg
            ), top AS (
                SELECT doc_id, max(c) AS top_cnt FROM cnt GROUP BY doc_id
            ), fr AS (
                SELECT st.doc_id,
                       round(CASE WHEN n_lines > 0
                             THEN 1.0 - CAST(n_dist AS DOUBLE) / n_lines
                             ELSE 0.0 END, 4) AS dup_line_frac,
                       round(CASE WHEN tot_chars > 0
                             THEN 1.0 - CAST(dist_chars AS DOUBLE) / tot_chars
                             ELSE 0.0 END, 4) AS dup_line_char_frac,
                       round(CASE WHEN n_tok >= 2
                             THEN CAST(coalesce(top_cnt, 0) AS DOUBLE) / (n_tok - 1)
                             ELSE 0.0 END, 4) AS top_bigram_frac
                FROM st LEFT JOIN top ON st.doc_id = top.doc_id
            )
            SELECT doc_id, dup_line_frac, dup_line_char_frac, top_bigram_frac,
                   (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
                    AND top_bigram_frac <= 0.18) AS rep_keep
            FROM fr
        """,
        # CCNet line dedup: same 3-token-line simulation; DuckDB zips the
        # parallel unnests so line order is replayed exactly
        "line_dedup_clean": """
            WITH sim AS (
                SELECT doc_id,
                       regexp_replace(text, '((?:\\S+ ){2}\\S+) ',
                                      '\\1' || chr(10), 'g') AS text
                FROM documents
            ), ln AS (
                SELECT doc_id,
                       unnest(string_split(text, chr(10))) AS line,
                       unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
                FROM sim
            ), lines AS (
                SELECT doc_id, pos, line, lower(trim(line)) AS norm
                FROM ln WHERE lower(trim(line)) <> ''
            ), freqs AS (
                SELECT norm, count(DISTINCT doc_id) AS nd FROM lines GROUP BY norm
            ), kept AS (
                SELECT l.doc_id,
                       string_agg(l.line, chr(10) ORDER BY l.pos) AS clean_text,
                       count(*) AS n_kept
                FROM lines l JOIN freqs f USING (norm)
                WHERE f.nd <= 2
                GROUP BY l.doc_id
            ), totals AS (
                SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(k.clean_text, '') AS clean_text,
                   CAST(coalesce(t.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
            FROM documents d
            LEFT JOIN totals t ON d.doc_id = t.doc_id
            LEFT JOIN kept k ON d.doc_id = k.doc_id
        """,
        # PII scrub replay: same planted PII, same email→IP→phone pass
        # order, RE2 equivalents of the Java patterns
        "pii_scrub_clean": """
            WITH sim AS (
                SELECT doc_id, text ||
                  CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || doc_id || '@example' ||
                            (doc_id % 7) || '.com' ELSE '' END ||
                  CASE WHEN doc_id % 4 = 0
                       THEN ' from 10.' || (doc_id % 256) || '.' ||
                            ((doc_id * 3) % 256) || '.7' ELSE '' END ||
                  CASE WHEN doc_id % 5 = 0
                       THEN ' call 021-5' ||
                            lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
                            '-0134' ELSE '' END AS text
                FROM documents
            ), s1 AS (
                SELECT doc_id,
                       len(regexp_extract_all(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                         AS n_emails,
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g') AS t1
                FROM sim
            ), s2 AS (
                SELECT doc_id, n_emails,
                       len(regexp_extract_all(t1,
                           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                         AS n_ips,
                       regexp_replace(t1,
                           '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                           '<IP>', 'g') AS t2
                FROM s1
            )
            SELECT doc_id,
                   regexp_replace(t2, '\\b\\d{3}-\\d{4}-\\d{4}\\b',
                                  '<PHONE>', 'g') AS clean_text,
                   CAST(n_emails AS BIGINT) AS n_emails,
                   CAST(n_ips AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(t2, '\\b\\d{3}-\\d{4}-\\d{4}\\b'))
                        AS BIGINT) AS n_phones
            FROM s2
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "a1_distinct": "SELECT DISTINCT o_orderpriority FROM orders",
        "a2_collect_set_str": """
            SELECT o_custkey,
                   string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
            FROM orders GROUP BY o_custkey
        """,
        "a3_count_distinct": """
            SELECT event_type, count(*) AS n_events,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "j1_anti_join_seen": """
            SELECT p_partkey, p_brand FROM part
            WHERE NOT EXISTS (SELECT 1 FROM lineitem
                              WHERE l_partkey = p_partkey AND l_quantity > 45)
        """,
        "j2_freshness_expiry": """
            SELECT o_orderpriority, count(*) AS n_expired
            FROM orders
            WHERE o_orderdate <= (SELECT max(o_orderdate) FROM orders) - INTERVAL 90 DAY
            GROUP BY o_orderpriority
        """,
        "j3_broadcast_lookup": """
            SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "j4_enrichment_join": """
            WITH enrich AS (
                SELECT l_orderkey, count(*) AS n_items,
                       round(sum(l_extendedprice), 2) AS items_price
                FROM lineitem GROUP BY l_orderkey
            )
            SELECT o_orderstatus,
                   CAST(sum(n_items) AS BIGINT) AS sum_items,
                   count(*) AS n_orders,
                   CAST(sum(CASE WHEN n_items IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_empty
            FROM orders LEFT JOIN enrich ON o_orderkey = l_orderkey
            GROUP BY o_orderstatus
        """,
        "j5_self_join_pairs": """
            SELECT n_name, count(*) AS n_pairs
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
            JOIN nation ON a.c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "w1_priority_ranking": """
            SELECT event_type, event_id, rn,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY event_type ORDER BY ts, event_id) AS rn
                FROM events
            ) WHERE rn <= 5
        """,
        "w2_first_match": """
            SELECT user_id, event_type AS first_event_type
            FROM (
                SELECT user_id, event_type, row_number() OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events
            ) WHERE rn = 1
        """,
        "w3_pagination": """
            SELECT p_partkey, g.page
            FROM part, LATERAL (SELECT unnest(generate_series(1, (p_size % 5) + 1)) AS page) g
        """,
        "s1_seed_explode": """
            SELECT 'http://h' || CAST(r_regionkey AS VARCHAR)
                   || '.example.com/list/s1-' || CAST(g.i AS VARCHAR) || '.html' AS url
            FROM region, LATERAL (SELECT unnest(generate_series(1, 4)) AS i) g
        """,
        "f1_extension_filter": """
            SELECT p_partkey,
                   'http://img.example.com/' || replace(p_name, ' ', '-')
                   || (CASE WHEN p_partkey % 3 = 0 THEN '.jpg' ELSE '.html' END) AS url
            FROM part
            WHERE NOT regexp_matches(
                'http://img.example.com/' || replace(p_name, ' ', '-')
                || (CASE WHEN p_partkey % 3 = 0 THEN '.jpg' ELSE '.html' END),
                '(?i)\\.(css|js|gif|jpe?g|png|mp3|mp4|zip|gz|ico)$')
        """,
        "f4_recency_filter": """
            SELECT event_type, count(*) AS n_recent
            FROM events
            WHERE year(ts) = (SELECT max(year(ts)) FROM events)
            GROUP BY event_type
        """,
        "f5_junk_filter": """
            SELECT doc_id, n_chars FROM documents
            WHERE length(trim(text)) > 0 AND text NOT LIKE '%lorem ipsum%'
        """,
        "set_union_distinct": """
            SELECT DISTINCT o_custkey FROM (
                SELECT o_custkey FROM orders WHERE o_totalprice > 100000
                UNION ALL
                SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
            )
        """,
        "c1_regex_extract": """
            SELECT c_custkey,
                   trim(regexp_extract(c_name, 'Customer#(\\d+)', 1)) AS cust_num,
                   trim(regexp_extract(c_name, '(XYZ\\d+)', 1)) AS miss_is_empty
            FROM customer
        """,
        "c2_c3_clean": """
            SELECT doc_id,
                   length(regexp_replace(text, '[\\p{P}\\p{Z}\\p{S}]', '', 'g')) AS len_clean,
                   length(regexp_replace(text, '[\\n\\r]', '', 'g')) AS len_nolb
            FROM documents
        """,
        "c13_c15_encodings": """
            SELECT c_custkey,
                   CASE WHEN c_custkey % 2 = 0 THEN '0' ELSE '1' END AS sex_code,
                   printf('classification%02d', c_nationkey + 1) AS cls_name
            FROM customer
        """,
        "semi_join_exists": """
            SELECT o_orderkey, o_orderstatus FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        """,
        "a4_map_assembly": """
            WITH per AS (
                SELECT o_custkey, o_orderstatus, count(*) AS cnt
                FROM orders GROUP BY o_custkey, o_orderstatus
            )
            SELECT o_custkey,
                   '{' || string_agg('"' || o_orderstatus || '":' || cnt,
                                     ',' ORDER BY o_orderstatus) || '}' AS status_counts
            FROM per GROUP BY o_custkey
        """,
        "c_dates_pipeline": """
            SELECT o_orderkey,
                   CAST(CAST(epoch(o_orderdate) AS BIGINT) AS VARCHAR) AS epoch_sec,
                   strftime(o_orderdate, '%Y%m%d') AS compact_date,
                   substr(strftime(o_orderdate, '%Y%m%d'), 1, 4) || '-' ||
                       substr(strftime(o_orderdate, '%Y%m%d'), 5) AS dashed,
                   strftime(o_orderdate, '%Y-%m-%d') || ' 00:00:00' AS completed,
                   '1970-00-00 00:00:00' AS sentinel
            FROM orders
        """,
        "c14_md5_dedup": """
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                   min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents
            GROUP BY 1
        """,
        "c20_jsonp_unwrap": """
            SELECT event_id,
                   json_extract_string(
                       regexp_extract('jQuery123(' || props || ');',
                                      '^\\s*[\\w$.]*\\((.*)\\)\\s*;?\\s*$', 1),
                       '$.k') AS k_val
            FROM events
        """,
        "lang_id": """
            SELECT doc_id, lang,
                   CASE
                     WHEN length(text) > 0 AND
                          (length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')))
                          / length(text) > 0.25 THEN 'zh'
                     WHEN length(text) > 0 AND
                          (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
                          / length(text) > 0.4 THEN 'en'
                     ELSE 'und'
                   END AS lang_pred
            FROM documents
        """,
        "token_counts": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS ws_tokens,
                   len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[一-鿿]|[^\\sA-Za-z0-9一-鿿]')) AS bpe_tokens
            FROM documents
        """,
        # full replay of operators/training.decontaminate at n=8: distinct
        # 8-word shingles per doc (whole text as the single gram when
        # shorter), benchmark = the doc_id % 97 == 0 slice, containment
        # count + 50% threshold flag; docs with zero overlap are absent
        "decontaminate_bench": """
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\\s+') AS toks
                FROM documents
            ),
            grams AS (
                SELECT doc_id,
                       list_distinct(
                         CASE WHEN len(toks) >= 8
                              THEN [array_to_string(toks[i:i+7], ' ')
                                    for i in generate_series(1, len(toks) - 7)]
                              ELSE [array_to_string(toks, ' ')] END
                       ) AS sh
                FROM toks
            ),
            doc_grams AS (
                SELECT doc_id, unnest(sh) AS gram, len(sh) AS n_grams
                FROM grams
            ),
            bench AS (
                SELECT DISTINCT unnest(sh) AS gram FROM grams
                WHERE doc_id % 97 = 0
            ),
            matched AS (
                SELECT d.doc_id,
                       count(*) AS n_matched,
                       any_value(d.n_grams) AS n_grams
                FROM doc_grams d JOIN bench USING (gram)
                GROUP BY 1
            )
            SELECT doc_id, n_matched, n_grams,
                   CASE WHEN n_matched >= 0.5 * n_grams THEN 1 ELSE 0 END
                     AS contaminated
            FROM matched
        """,
        # full replay of operators/training.domain_mix_summary: weights
        # derived from md5(source) (4 regimes × 8750 bp); rows_out = Σ
        # copies with copies = rate_bp div 10000 + (md5-bucket(doc_id) <
        # rate_bp mod 10000) — the exact deterministic sampling rule
        "domain_mix_audit": """
            WITH w AS (
                SELECT source,
                       (('0x' || substr(md5(source), 1, 4))::BIGINT % 4) * 8750
                         AS rate_bp
                FROM (SELECT DISTINCT source FROM documents)
            ),
            nd AS (
                SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
            ),
            ro AS (
                SELECT d.source,
                       CAST(sum((w.rate_bp // 10000)
                           + CASE WHEN ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::BIGINT
                                       % 10000 < w.rate_bp % 10000
                                  THEN 1 ELSE 0 END) AS BIGINT) AS rows_out
                FROM documents d JOIN w USING (source)
                GROUP BY 1
            )
            SELECT w.source, w.rate_bp,
                   coalesce(nd.n_docs, 0) AS n_docs,
                   coalesce(ro.rows_out, 0) AS rows_out
            FROM w LEFT JOIN nd USING (source) LEFT JOIN ro USING (source)
        """,
        # replay of operators/training.pack_sequences (shard = source,
        # capacity 2048): within-shard running token offset in doc_id
        # order, first/last sequence index (empty docs pinned to their
        # start boundary via greatest(n_tokens, 1))
        "pack_sequences": """
            WITH t AS (
                SELECT doc_id, source AS shard,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+'))
                       END AS n_tokens
                FROM documents
            ),
            o AS (
                SELECT doc_id, shard, n_tokens,
                       CAST(sum(n_tokens) OVER (
                           PARTITION BY shard ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING
                       ) AS BIGINT) - n_tokens AS start_off
                FROM t
            )
            SELECT doc_id, shard, n_tokens, start_off,
                   start_off // 2048 AS first_seq,
                   (start_off + greatest(n_tokens, 1) - 1) // 2048 AS last_seq
            FROM o
        """,
        # replay of functions.textstats.unigram_lm_scores: corpus-MLE
        # unigram model (p = count/total over whitespace tokens of the
        # lowercased corpus), per-doc mean negative ln p rounded to 4
        # decimals; token-less docs absent
        "unigram_ppl": """
            WITH tk AS (
                SELECT doc_id, tok
                FROM (SELECT doc_id,
                             unnest(string_split_regex(trim(lower(text)),
                                                       '\\s+')) AS tok
                      FROM documents)
                WHERE tok <> ''
            ),
            vocab AS (
                SELECT tok, count(*) AS cnt FROM tk GROUP BY 1
            ),
            n AS (SELECT sum(cnt)::DOUBLE AS n_total FROM vocab)
            SELECT t.doc_id,
                   count(*) AS n_tokens,
                   round(-sum(ln(v.cnt / n.n_total)) / count(*), 4) AS logppl
            FROM tk t JOIN vocab v USING (tok) CROSS JOIN n
            GROUP BY 1
        """,
        "quality_score": """
            WITH m AS (
                SELECT doc_id,
                       length(text) AS ln,
                       length(text) - length(regexp_replace(text, '[\\p{P}\\p{S}]', '', 'g')) AS punct,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks,
                       length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
                       len(regexp_extract_all(lower(text),
                           '\\b(the|a|an|and|or|of|to|in|is|are|was|were|it|that|this|for|on|with|as|by|at|be)\\b')) AS sw,
                       length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cjk
                FROM documents
            )
            SELECT doc_id, round((
                (CASE WHEN ln >= 50 AND ln <= 100000 THEN 1.0 ELSE 0.0 END) +
                (CASE WHEN ln > 0 AND punct / ln < 0.3 THEN 1.0 ELSE 0.0 END) +
                (CASE WHEN toks > 0 AND nonspace / toks >= 2.0 AND nonspace / toks <= 12.0
                      THEN 1.0 ELSE 0.0 END) +
                (CASE WHEN (toks > 0 AND sw / toks > 0.05) OR (ln > 0 AND cjk / ln > 0.25)
                      THEN 1.0 ELSE 0.0 END)
            ) / 4.0, 4) AS quality
            FROM m
        """,
        "dedup_exact_norm": """
            SELECT min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents
            GROUP BY trim(regexp_replace(regexp_replace(lower(text), '[\\p{P}]', '', 'g'),
                                         '\\s+', ' ', 'g'))
        """,
        "ann_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
                FROM embeddings WHERE vec_id < 3
            ), scored AS (
                SELECT q.query_id, e.vec_id,
                       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 6) AS cosine
                FROM embeddings e CROSS JOIN q
            )
            SELECT query_id, vec_id, cosine, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
                FROM scored
            ) WHERE rank <= 10
        """,
        "embedding_near_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                                CAST(b.embedding AS DOUBLE[])), 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                               CAST(b.embedding AS DOUBLE[])), 6) >= 0.43
        """,
        "event_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
                   event_type, count(*) AS n, round(sum(value), 4) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "f2_page_class": """
            WITH u AS (
                SELECT p_partkey,
                       'http://www.example.com/' ||
                       (CASE
                          WHEN p_partkey % 4 = 0 THEN 'auto/series-' || CAST(p_partkey AS VARCHAR) || '.html'
                          WHEN p_partkey % 4 = 1 THEN 'bbs/thread-' || CAST(p_partkey AS VARCHAR) || '.html'
                          WHEN p_partkey % 4 = 2 THEN 'user/' || CAST(p_partkey AS VARCHAR)
                          ELSE 'img/' || CAST(p_partkey AS VARCHAR) || '.jpg'
                        END) AS url
                FROM part
            )
            SELECT p_partkey, url,
                   CASE
                     WHEN regexp_matches(url, '/auto/series-\\d+\\.html$') THEN 'auto_detail'
                     WHEN regexp_matches(url, '/bbs/thread-\\d+\\.html$') THEN 'bbs_post'
                     WHEN regexp_matches(url, '/user/\\d+$') THEN 'user_profile'
                     ELSE 'skip'
                   END AS page_class
            FROM u
        """,
        "f3_regex_taxonomy": """
            WITH rules(priority, rx, code) AS (
                VALUES (1, 'widget|gizmo', '0101'),
                       (2, 'bolt|nut|gear', '0102'),
                       (3, 'red|blue', '0201')
            ), m AS (
                SELECT p_partkey, min(priority) AS pr
                FROM part JOIN rules ON regexp_matches(p_name, rx)
                GROUP BY p_partkey
            )
            SELECT p.p_partkey, coalesce(r.code, '0000') AS class_code
            FROM part p
            LEFT JOIN m ON p.p_partkey = m.p_partkey
            LEFT JOIN rules r ON m.pr = r.priority
        """,
        "f6_shape_guard_split": """
            SELECT c_mktsegment,
                   CASE WHEN c_acctbal >= 0 THEN 'results' ELSE 'requeue' END AS route,
                   count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
            FROM customer GROUP BY 1, 2
        """,
        "c4_c5_ts_roundtrip": """
            SELECT o_orderkey,
                   strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts2date,
                   '' AS ts2date_bad,
                   CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT) AS VARCHAR) AS date2ts,
                   '' AS date2ts_bad,
                   CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT) * 1000 AS VARCHAR) AS millis,
                   '0' AS millis_bad
            FROM orders
        """,
        "c_misc_scalars": """
            SELECT c_custkey,
                   trim(regexp_extract('名称: ' || c_name, '([^:]*)$', 1)) AS after_colon,
                   regexp_extract('价格: ' || CAST(c_custkey % 100 AS VARCHAR) || '.5万',
                                  '([.0-9]+)万', 1) AS wan_price,
                   'biz=' || CAST(c_custkey AS VARCHAR) || '&x=1' AS decoded,
                   printf('http://api.example.com/u/%d/p/%d', c_custkey, c_nationkey)
                       AS filled_url,
                   substr(md5(c_name), 1, 4) AS sid,
                   substr(md5(c_name), 5, 4) AS nid,
                   substr(md5(c_name), 9, 4) AS bid
            FROM customer
        """,
        "c19_script_json": """
            SELECT event_id,
                   json_extract_string(
                       regexp_extract('<html><script>var config = ' || props
                                      || ';</script><body>x</body></html>',
                                      'var config = (\\{.*?\\});', 1),
                       '$.k') AS cfg_k
            FROM events
        """,
        "s6_flat_file_scan": r"""
            WITH raw(value) AS (VALUES
                ('an[54094]=["0","北京|beijing|054094"];'),
                ('an[54511]=["1","海淀|haidian|054511"];'),
                ('junk line without a match'),
                ('an[58367]=["0","上海|shanghai|058367"];'),
                ('an[58457]=["1","杭州|hangzhou|058457"];'),
                ('var done = true;'),
                ('an[59287]=["0","广州|guangzhou|059287"];'))
            SELECT regexp_extract(value, 'an\[(\d+)\]', 1) AS code,
                   regexp_extract(value, '"\d+","([^|]+)\|', 1) AS name,
                   regexp_extract(value, '\|([a-z]+)\|', 1) AS pinyin
            FROM raw
            WHERE regexp_extract(value, 'an\[(\d+)\]', 1) <> ''
        """,
        "s8_merge_latest": """
            SELECT rowkey, status, priority, last_orderkey FROM (
                SELECT CAST(o_custkey AS VARCHAR) AS rowkey,
                       o_orderstatus AS status,
                       o_orderpriority AS priority,
                       o_orderkey AS last_orderkey,
                       row_number() OVER (
                           PARTITION BY o_custkey ORDER BY o_orderkey DESC
                       ) AS rn
                FROM orders)
            WHERE rn = 1
        """,
        "s7_static_table": f"""
            WITH ins(idx, ins_name, ins_type) AS (
                VALUES {', '.join(f"({i}, '{n}', '{t}')" for i, n, t in _INS_ROWS)}
            )
            SELECT ins_type, count(*) AS n_cust, count(DISTINCT idx) AS n_products
            FROM customer JOIN ins ON (c_nationkey % 11) = idx
            GROUP BY ins_type
        """,
        "event_sessionize": """
            WITH g AS (
                SELECT user_id, ts, event_id,
                       CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
                SELECT user_id, ts,
                       sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
                FROM g
            ), per AS (
                SELECT user_id, sess_id, count(*) AS n_events,
                       CAST(floor(epoch(max(ts))) AS BIGINT)
                       - CAST(floor(epoch(min(ts))) AS BIGINT) AS dur
                FROM s GROUP BY user_id, sess_id
            )
            SELECT user_id, count(*) AS n_sessions,
                   max(n_events) AS max_session_events,
                   max(dur) AS max_session_sec
            FROM per GROUP BY user_id
        """,
        "fingerprint_dedup": """
            SELECT min(doc_id) AS keep_id, count(*) AS n_dups
            FROM documents
            GROUP BY trim(regexp_replace(lower(text), '[\\s\\p{P}]+', ' ', 'g'))
        """,
        "event_gaps": """
            WITH g AS (
                SELECT user_id,
                       CAST(floor(epoch(ts)) AS BIGINT)
                       - CAST(floor(epoch(lag(ts) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS gap
                FROM events
            )
            SELECT user_id, CAST(sum(gap) AS BIGINT) AS sum_gap_sec, count(gap) AS n_gaps,
                   max(gap) AS max_gap_sec
            FROM g WHERE gap IS NOT NULL
            GROUP BY user_id
        """,
        "c9_locale_parse": """
            WITH t AS (
                SELECT o_orderkey,
                       CAST(o_orderdate AS TIMESTAMP)
                       + (o_orderkey % 24) * INTERVAL 1 HOUR
                       + (o_orderkey % 60) * INTERVAL 1 MINUTE
                       + (o_orderkey % 60) * INTERVAL 1 SECOND AS ts2
                FROM orders
            ), r AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 7 = 0 THEN 'not a date'
                            ELSE strftime(ts2, '%a %b %d %H:%M:%S')
                                 || ' GMT+08:00 ' || strftime(ts2, '%Y')
                       END AS raw
                FROM t
            )
            SELECT o_orderkey, raw,
                   strftime(
                     try_strptime(
                       replace(regexp_replace(raw, '^[A-Za-z]{3}\\s+', ''),
                               ' GMT+08:00', ''),
                       '%b %d %H:%M:%S %Y') - INTERVAL 8 HOUR,
                     '%Y-%m-%d %H:%M:%S') AS parsed
            FROM r
        """,
        "gpsspg_bs_import": """
            WITH work AS (
                SELECT DISTINCT
                       CASE WHEN p_partkey % 10 = 0
                            THEN lpad(CAST(p_partkey AS VARCHAR), 11, '0')
                            ELSE lpad(CAST(p_partkey AS VARCHAR), 12, '0') END AS bsid
                FROM part
                WHERE NOT (p_partkey % 13 = 0)   -- empty-datetime rows filtered
            ), plan AS (
                SELECT bsid, CAST(bsid AS INT) AS n FROM work WHERE length(bsid) = 12
            ), resp AS (
                SELECT bsid,
                       CASE WHEN n % 7 = 0 THEN 'jQuery12({"status":404})'
                            WHEN n % 11 = 0 THEN 'not-a-jsonp-response'
                            ELSE 'jQuery12({"status":200,"result":[{"id":"bs'
                                 || CAST(n AS VARCHAR)
                                 || '","lat":"3' || CAST(n % 90 AS VARCHAR)
                                 || '.5","lng":"1' || CAST(n % 80 AS VARCHAR)
                                 || '.25","radius":"' || CAST(50 + n % 900 AS VARCHAR)
                                 || '","address":"地址' || CAST(n % 1000 AS VARCHAR)
                                 || '","roads":"路' || CAST(n % 50 AS VARCHAR)
                                 || '","rid":"r' || CAST(n % 200 AS VARCHAR)
                                 || '","rids":"r' || CAST(n % 200 AS VARCHAR)
                                 || ',r' || CAST((n + 1) % 200 AS VARCHAR)
                                 || '"}]})'
                       END AS payload
                FROM plan
            ), js AS (
                SELECT bsid,
                       regexp_extract(payload, 'jQuery\\d+.*\\((\\{.*\\})+\\)', 1) AS j
                FROM resp
            )
            SELECT bsid AS rowkey,
                   json_extract_string(j, '$.result[0].id') AS id,
                   json_extract_string(j, '$.result[0].lat') AS lat,
                   json_extract_string(j, '$.result[0].lng') AS lng,
                   json_extract_string(j, '$.result[0].radius') AS radius,
                   json_extract_string(j, '$.result[0].address') AS address,
                   json_extract_string(j, '$.result[0].roads') AS roads,
                   json_extract_string(j, '$.result[0].rid') AS rid,
                   json_extract_string(j, '$.result[0].rids') AS rids
            FROM js
            WHERE j != '' AND json_extract_string(j, '$.status') = '200'
        """,
        # 10jqka import replay: markets/pages are the job's static config;
        # the parsed quote rows and the detail-page plate parse are
        # re-derived from the same deterministic formulas (payload-build ∘
        # parse = identity, as in gpsspg_bs_import)
        "stock_import": """
            WITH markets AS (
                SELECT CAST(i AS INT) AS market_idx FROM range(4) t(i)
            ), pages AS (
                SELECT market_idx, CAST(unnest(generate_series(1, 3 + market_idx)) AS INT) AS page
                FROM markets
            ), stocks AS (
                SELECT printf('%d%02d%02d0', market_idx, page, n_nationkey) AS stockcode
                FROM pages CROSS JOIN nation
            ), enr AS (
                SELECT stockcode, CAST(stockcode AS INT) AS n FROM stocks
            )
            SELECT '00150107_' || stockcode AS rowkey,
                   'id' || stockcode AS stockid,
                   '股票' || stockcode AS stockname,
                   CASE WHEN n % 17 = 0 THEN ''
                        ELSE '地区' || CAST(n % 30 AS VARCHAR) || '板块'
                             || CASE WHEN n % 4 <> 0
                                     THEN ',概念' || CAST(n % 12 AS VARCHAR)
                                     ELSE '' END
                   END AS stockplate
            FROM enr
        """,
        # weixin import replay: same part-derived fixture, same gates —
        # date/partition filters, GROUP BY dedup on the RAW rows, %3D
        # decode AFTER dedup, art anti-join, the INVERTED biz-expiry gate
        # (b1 fresh ⇒ re-crawl, b2 expired ⇒ skip), empty-code page gate,
        # merge collapse for the biz table
        "weixin_import_smoke": """
            WITH base AS (
                SELECT p_partkey AS i FROM part WHERE p_partkey <= 40
            ), raw AS (
                SELECT 'b' || CAST(i % 3 AS VARCHAR)
                           || CASE WHEN i % 10 = 0 THEN '%3D' ELSE '' END AS biz,
                       'm' || CAST(i % 4 AS VARCHAR) AS mid,
                       CAST(i % 2 AS VARCHAR) AS idx,
                       's' || CAST(i % 2 AS VARCHAR) AS sn
                FROM base WHERE i % 11 <> 0 AND i % 13 <> 0
            ), work AS (
                SELECT DISTINCT biz, mid, idx, sn FROM raw
            ), dec AS (
                SELECT CASE WHEN contains(upper(biz), '%3D')
                            THEN replace(biz, '%3D', '=') ELSE biz END AS biz,
                       mid, idx, sn
                FROM work
            ), art_seen AS (
                SELECT DISTINCT
                       'b' || CAST(i % 3 AS VARCHAR) || '_m' || CAST(i % 4 AS VARCHAR)
                           || '_' || CAST(i % 2 AS VARCHAR)
                           || '_s' || CAST(i % 2 AS VARCHAR) AS rowkey
                FROM base WHERE i % 8 = 5
            ), flags AS (
                SELECT d.biz, d.mid, d.idx, d.sn,
                       d.biz || '_' || d.mid || '_' || d.idx || '_' || d.sn AS rowkey,
                       (a.rowkey IS NULL) AS need_art,
                       (d.biz <> 'b2') AS need_biz
                FROM dec d
                LEFT JOIN art_seen a
                  ON d.biz || '_' || d.mid || '_' || d.idx || '_' || d.sn = a.rowkey
            ), extracted AS (
                SELECT *,
                       NOT (mid = 'm2' AND sn = 's0') AS has_code,
                       '正文' || biz || ':' || mid || ':' || idx || ':' || sn
                           || '内容。' AS content
                FROM flags WHERE need_art OR need_biz
            )
            SELECT 'art' AS tbl, rowkey, content AS val
            FROM extracted WHERE has_code AND need_art
            UNION ALL
            SELECT DISTINCT 'biz' AS tbl, biz AS rowkey, biz AS val
            FROM extracted WHERE has_code AND need_biz
        """,
        # Weather2345 replay: provinces from region (self-parented),
        # counties from nation ('a' prefix already stripped by the parse);
        # parent self-join + full_name prefix rule
        "weather_import": """
            WITH prov AS (
                SELECT CAST(1000 + r_regionkey AS VARCHAR) AS code,
                       '省' || CAST(r_regionkey AS VARCHAR) AS name,
                       CAST(1000 + r_regionkey AS VARCHAR) AS parent_code
                FROM region
            ), county AS (
                SELECT CAST(2000 + n_nationkey AS VARCHAR) AS code,
                       '县' || CAST(n_nationkey AS VARCHAR) AS name,
                       CAST(1000 + n_regionkey AS VARCHAR) AS parent_code
                FROM nation
            ), areas AS (
                SELECT * FROM prov UNION ALL SELECT * FROM county
            ), joined AS (
                SELECT a.code, a.name, a.parent_code,
                       CASE WHEN a.code = a.parent_code THEN a.name
                            ELSE p.name END AS parent_name
                FROM areas a
                LEFT JOIN areas p
                  ON a.parent_code = p.code AND a.code <> a.parent_code
            )
            SELECT '00050011_' || code AS rowkey, code, name, parent_code,
                   parent_name,
                   CASE WHEN name <> parent_name
                        THEN parent_name || ',' || name
                        ELSE name END AS full_name
            FROM joined
        """,
        "chinaweather_import": """
            WITH prov AS (
                SELECT CAST(n_nationkey AS INT) AS n,
                       printf('101%02d', CAST(n_nationkey AS INT)) AS province
                FROM nation
                WHERE CAST(n_nationkey AS INT) % 7 <> 0
            ), city AS (
                SELECT province || printf('0%d', k) AS city_code,
                       '城市' || province || printf('0%d', k) AS city_name
                FROM prov, generate_series(1, 3) AS g(k)
                WHERE k <= 1 + (n % 3)
            ), station AS (
                SELECT city_code || printf('0%d', sk) AS code,
                       CASE WHEN sk = 1
                                 AND CAST(city_code AS BIGINT) % 3 = 0
                            THEN city_name
                            ELSE '站' || city_code || printf('0%d', sk)
                       END AS name,
                       city_code AS parent_code,
                       city_name AS parent_name
                FROM city, generate_series(1, 2) AS g(sk)
                WHERE CAST(city_code AS BIGINT) % 5 <> 0
                  AND sk <= 1 + (CAST(city_code AS BIGINT) % 2)
            )
            SELECT ac.app_code || '_' || code AS rowkey, code, name,
                   parent_code, parent_name,
                   CASE WHEN name <> parent_name
                        THEN parent_name || ',' || name
                        ELSE name END AS full_name
            FROM station,
                 (VALUES ('00050012'), ('00050014'),
                         ('00050018'), ('00050019')) AS ac(app_code)
        """,
        "s9_search_index": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '\\s+')) AS term
                FROM documents
            ), post AS (
                SELECT term, doc_id, count(*) AS tf
                FROM toks WHERE term != '' GROUP BY term, doc_id
            ), q AS (
                SELECT unnest(['hash', 'join', 'scan']) AS term
            ), sc AS (
                SELECT doc_id,
                       count(DISTINCT p.term) AS n_terms,
                       CAST(sum(tf) AS BIGINT) AS score
                FROM post p JOIN q USING (term)
                GROUP BY doc_id
            )
            SELECT doc_id, n_terms, score, rank FROM (
                SELECT *, CAST(row_number() OVER (
                    ORDER BY n_terms DESC, score DESC, doc_id) AS INT) AS rank
                FROM sc
            ) WHERE rank <= 10
        """,
        "c24_fragment_fold": """
            WITH f AS (
                SELECT doc_id,
                       '主治:' || substr(text, 1, 40) || '<br>'
                       || substr(text, 41, 40) || '<hr>'
                       || '备注"' || substr(text, 81, 20) || '"' AS frag
                FROM documents
            ), p AS (
                SELECT doc_id, string_split(frag, '<hr>') AS parts FROM f
            ), k AS (
                SELECT doc_id, parts,
                       string_split(replace(parts[1], '<br>', '&&'), ':') AS kv
                FROM p
            )
            SELECT doc_id,
                   CAST(len(parts) AS INT) AS n_sections,
                   kv[1] AS first_key,
                   '[' || array_to_string(
                       list_transform(string_split(kv[2], '&&'),
                                      v -> '"' || replace(v, '"', '''') || '"'),
                       ',') || ']' AS first_vals_json,
                   replace(parts[2], '"', '''') AS plain_tail
            FROM k
        """,
        # exact all-pairs 3-word-shingle Jaccard — the ground truth the
        # MinHash-LSH pair set must reproduce (threshold 0.5)
        "minhash_pairs": f"""
            WITH sh AS ({_SHINGLE_SQL})
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                  / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE sh AS ({_SHINGLE_SQL}),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
            ),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ),
            reach(a, b) AS (
                SELECT src, src FROM edges
                UNION
                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
            )
            SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
        """,
        # the four stages replayed as one statement: quality/lang gates,
        # normalized exact dedup, LSH-threshold pair graph + recursive-CTE
        # closure, representative-only projection
        "corpus_clean": """
            WITH RECURSIVE m AS (
                SELECT doc_id, text,
                       length(text) AS ln,
                       length(text) - length(regexp_replace(text, '[\\p{P}\\p{S}]', '', 'g')) AS punct,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks,
                       length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
                       len(regexp_extract_all(lower(text),
                           '\\b(the|a|an|and|or|of|to|in|is|are|was|were|it|that|this|for|on|with|as|by|at|be)\\b')) AS sw,
                       length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cjk,
                       length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS latin
                FROM documents
            ), g AS (
                SELECT doc_id, text,
                       round((
                         (CASE WHEN ln >= 50 AND ln <= 100000 THEN 1.0 ELSE 0.0 END) +
                         (CASE WHEN ln > 0 AND punct / ln < 0.3 THEN 1.0 ELSE 0.0 END) +
                         (CASE WHEN toks > 0 AND nonspace / toks >= 2.0 AND nonspace / toks <= 12.0
                               THEN 1.0 ELSE 0.0 END) +
                         (CASE WHEN (toks > 0 AND sw / toks > 0.05) OR (ln > 0 AND cjk / ln > 0.25)
                               THEN 1.0 ELSE 0.0 END)
                       ) / 4.0, 4) AS quality,
                       CASE WHEN ln > 0 AND cjk / ln > 0.25 THEN 'zh'
                            WHEN ln > 0 AND latin / ln > 0.4 THEN 'en'
                            ELSE 'und' END AS lang_pred
                FROM m
            ), gated AS (
                SELECT * FROM g WHERE quality >= 0.75 AND lang_pred <> 'und'
            ), exact_keep AS (
                SELECT min(doc_id) AS doc_id FROM gated
                GROUP BY trim(regexp_replace(regexp_replace(lower(text), '[\\p{P}]', '', 'g'),
                                             '\\s+', ' ', 'g'))
            ), survivors AS (
                SELECT g.* FROM gated g JOIN exact_keep e USING (doc_id)
            ), sh AS (
                SELECT doc_id,
                       list_distinct(
                         CASE WHEN len(toks) >= 3
                              THEN [array_to_string(toks[i:i+2], ' ')
                                    for i in generate_series(1, len(toks) - 2)]
                              ELSE [array_to_string(toks, ' ')] END
                       ) AS sh
                FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
                      FROM survivors)
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach(a, b) AS (
                SELECT src, src FROM edges
                UNION
                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
            ), clusters AS (
                SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
            )
            SELECT s.doc_id, s.quality, s.lang_pred
            FROM survivors s LEFT JOIN clusters c USING (doc_id)
            WHERE c.cluster_id IS NULL OR c.cluster_id = s.doc_id
        """,
        # the seven-stage corpus_clean_v2 replay: planting + line sim →
        # CCNet line dedup → PII scrub → repetition gate → quality/lang
        # gates → exact dedup → near-dup reachability, one statement
        "corpus_clean_v2": """
            WITH RECURSIVE planted AS (
                SELECT doc_id, text ||
                  CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || doc_id || '@example' ||
                            (doc_id % 7) || '.com' ELSE '' END ||
                  CASE WHEN doc_id % 4 = 0
                       THEN ' from 10.' || (doc_id % 256) || '.' ||
                            ((doc_id * 3) % 256) || '.7' ELSE '' END AS text
                FROM documents
            ), lined AS (
                SELECT doc_id, regexp_replace(text, '((?:\\S+ ){2}\\S+) ',
                                              '\\1' || chr(10), 'g') AS text
                FROM planted
            ), ln AS (
                SELECT doc_id,
                       unnest(string_split(text, chr(10))) AS line,
                       unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
                FROM lined
            ), lines AS (
                SELECT doc_id, pos, line, lower(trim(line)) AS norm
                FROM ln WHERE lower(trim(line)) <> ''
            ), freqs AS (
                SELECT norm, count(DISTINCT doc_id) AS nd FROM lines GROUP BY norm
            ), keptl AS (
                SELECT l.doc_id,
                       string_agg(l.line, chr(10) ORDER BY l.pos) AS text
                FROM lines l JOIN freqs f USING (norm)
                WHERE f.nd <= 2 GROUP BY l.doc_id
            ), docs0 AS (
                SELECT d.doc_id, coalesce(k.text, '') AS text
                FROM documents d LEFT JOIN keptl k ON d.doc_id = k.doc_id
            ), scrub AS (
                SELECT doc_id,
                       regexp_replace(
                         regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                         '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                         '<IP>', 'g') AS text
                FROM docs0
            ), rls AS (
                SELECT doc_id,
                       list_filter(list_transform(string_split(text, chr(10)),
                                                  x -> trim(x)),
                                   x -> x <> '') AS lines,
                       list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                   x -> x <> '') AS toks
                FROM scrub
            ), rst AS (
                SELECT doc_id, toks,
                       len(lines) AS n_lines,
                       len(list_distinct(lines)) AS n_dist,
                       len(toks) AS n_tok
                FROM rls
            ), rbig AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, n_tok),
                                             i -> toks[i] || ' ' || toks[i+1])) AS bg
                FROM rst WHERE n_tok >= 2
            ), rcnt AS (
                SELECT doc_id, bg, count(*) AS c FROM rbig GROUP BY doc_id, bg
            ), rtop AS (
                SELECT doc_id, max(c) AS top_cnt FROM rcnt GROUP BY doc_id
            ), rep AS (
                SELECT rst.doc_id,
                       round(CASE WHEN n_lines > 0
                             THEN 1.0 - CAST(n_dist AS DOUBLE) / n_lines
                             ELSE 0.0 END, 4) AS dup_line_frac,
                       round(CASE WHEN n_tok >= 2
                             THEN CAST(coalesce(top_cnt, 0) AS DOUBLE) / (n_tok - 1)
                             ELSE 0.0 END, 4) AS top_bigram_frac
                FROM rst LEFT JOIN rtop USING (doc_id)
            ), m AS (
                SELECT doc_id, text,
                       length(text) AS ln,
                       length(text) - length(regexp_replace(text, '[\\p{P}\\p{S}]', '', 'g')) AS punct,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS toks,
                       length(regexp_replace(text, '\\s', '', 'g')) AS nonspace,
                       len(regexp_extract_all(lower(text),
                           '\\b(the|a|an|and|or|of|to|in|is|are|was|were|it|that|this|for|on|with|as|by|at|be)\\b')) AS sw,
                       length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cjk,
                       length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS latin
                FROM scrub
            ), g AS (
                SELECT doc_id, text,
                       round((
                         (CASE WHEN ln >= 50 AND ln <= 100000 THEN 1.0 ELSE 0.0 END) +
                         (CASE WHEN ln > 0 AND punct / ln < 0.3 THEN 1.0 ELSE 0.0 END) +
                         (CASE WHEN toks > 0 AND nonspace / toks >= 2.0 AND nonspace / toks <= 12.0
                               THEN 1.0 ELSE 0.0 END) +
                         (CASE WHEN (toks > 0 AND sw / toks > 0.05) OR (ln > 0 AND cjk / ln > 0.25)
                               THEN 1.0 ELSE 0.0 END)
                       ) / 4.0, 4) AS quality,
                       CASE WHEN ln > 0 AND cjk / ln > 0.25 THEN 'zh'
                            WHEN ln > 0 AND latin / ln > 0.4 THEN 'en'
                            ELSE 'und' END AS lang_pred
                FROM m
            ), gated AS (
                SELECT g.* FROM g JOIN rep r USING (doc_id)
                WHERE quality >= 0.75 AND lang_pred <> 'und'
                  AND r.top_bigram_frac <= 0.10 AND r.dup_line_frac <= 0.30
            ), exact_keep AS (
                SELECT min(doc_id) AS doc_id FROM gated
                GROUP BY trim(regexp_replace(regexp_replace(lower(text), '[\\p{P}]', '', 'g'),
                                             '\\s+', ' ', 'g'))
            ), survivors AS (
                SELECT g.* FROM gated g JOIN exact_keep e USING (doc_id)
            ), sh AS (
                SELECT doc_id,
                       list_distinct(
                         CASE WHEN len(toks) >= 3
                              THEN [array_to_string(toks[i:i+2], ' ')
                                    for i in generate_series(1, len(toks) - 2)]
                              ELSE [array_to_string(toks, ' ')] END
                       ) AS sh
                FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
                      FROM survivors)
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach(a, b) AS (
                SELECT src, src FROM edges
                UNION
                SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
            ), clusters AS (
                SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a
            )
            SELECT s.doc_id, s.quality, s.lang_pred
            FROM survivors s LEFT JOIN clusters c USING (doc_id)
            WHERE c.cluster_id IS NULL OR c.cluster_id = s.doc_id
        """,
        "ngram_jaccard": f"""
            WITH sh AS ({_SHINGLE_SQL})
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.sh, b.sh))::DOUBLE
                         / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
                        / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= 0.5
        """,
        # identical md5-based 60-bit simhash recomputed in SQL, then exact
        # all-pairs hamming ≤ 3 (the Spark side's 4-band pigeonhole has an
        # exact recall guarantee at hamming ≤ 3, so the sets must match)
        "simhash_pairs": f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(string_split_regex(lower(text), '\\s+')) AS tok
                FROM documents
            ), h AS (
                SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
                FROM toks
            ), bits AS (
                SELECT doc_id,
                       {", ".join(
                           f"CASE WHEN sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
                           f" THEN (1::BIGINT << {i}) ELSE 0 END AS p{i}"
                           for i in range(60)
                       )}
                FROM h GROUP BY doc_id
            ), sig AS (
                SELECT doc_id, ({" + ".join(f"p{i}" for i in range(60))}) AS simhash
                FROM bits
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        # exact cosine top-5 for query vectors 0 and 1 (IVF n_probe recall
        # verified exact on these fixtures)
        "ivf_topk": """
            WITH q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 2
            ), scored AS (
                SELECT q.query_id, e.vec_id,
                       round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 6) AS cosine
                FROM embeddings e CROSS JOIN q
            )
            SELECT query_id, vec_id, cosine, rank FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS INT) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        # the same clustered synth (cluster = vec_id % 8, 10·axis-set +
        # jitter), brute-force exact top-5 — the Spark side prunes to
        # n_probe=2 of 8 cells and must still match this exactly
        "ivf_topk_pruned": """
            WITH vecs AS (
                SELECT vec_id,
                       [ (CASE WHEN j % 8 = vec_id % 8
                               THEN 10.0 ELSE 0.0 END)
                         + ((vec_id * 31 + j * 7) % 19) / 19.0 - 0.5
                         FOR j IN generate_series(0, 63) ] AS v
                FROM embeddings
            ), q AS (
                SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < 4
            ), scored AS (
                SELECT q.query_id, e.vec_id,
                       list_cosine_similarity(e.v, q.qv) AS raw
                FROM vecs e CROSS JOIN q
            )
            SELECT query_id, vec_id, round(raw, 6) AS cosine, rank FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY query_id ORDER BY raw DESC, vec_id) AS INT) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        # media_from_ids' deterministic shape re-derived in SQL over the
        # same source table: kind from doc_id mod 3, payload a 64-byte
        # blake2b digest
        "multimodal_features": """
            SELECT doc_id AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                              ELSE 'video' END AS kind,
                   64 AS n_bytes
            FROM documents WHERE doc_id < 64
        """,
    }
