"""Training-data assembly operators: the last mile AFTER cleaning/dedup.

Three stages every LLM-corpus build runs between "clean documents" and
"training examples", absent from the reference (a DMP crawler suite,
`/root/reference/src/main/java/com/pxene/dmp/`) but first-class for the
100-TB training-pipeline use cases this engine targets:

 - decontaminate: n-gram overlap against held-out eval benchmarks
   (GPT-3 Appendix C / Llama-2 A.6 style). The benchmark n-gram set is
   tiny relative to the corpus (millions of grams vs billions of docs),
   so it is BROADCAST and the corpus-side explode+join+partial-count all
   run map-side: document text never rides a shuffle, and only
   (doc_id, matched_count) rows survive to the exchange.
 - domain_mix: Pile/Dolma-style per-source mixing weights with
   deterministic up/down-sampling. The decision is a pure function of
   (doc_id, rate): bucket = first-4-hex-of-md5(doc_id) mod 10000,
   copies = rate_bp div 10000 + (bucket < rate_bp mod 10000). No RNG
   state, so the sample is reproducible across retries/resumes and
   cluster sizes — the property a resumable 10^10-row pipeline needs.
   Weights join is broadcast (one row per source); upsampled epochs
   materialize via explode(sequence(...)), map-side.
 - shuffle_shards: deterministic seeded global shuffle + shard
   assignment. Training order must be random-looking but EXACTLY
   reproducible (retries, resumes, different cluster sizes must emit the
   identical byte stream), so the permutation is a pure function of
   (seed, doc_id): a 60-bit md5 order key buckets docs into shards and
   ranks them within each shard. One hash exchange on the shard key,
   per-shard window rank — no global sort anywhere, which is what lets
   10^10 docs shuffle without range-partitioning the world.
 - pack_sequences: concat-and-chunk packing of token-counted documents
   into fixed-capacity token windows (the GPT-style pretraining layout).
   Packing is per-SHARD (partitionBy shard, orderBy doc_id): one shuffle
   on the shard key, a window cumsum within each shard, no global sort —
   at 10^10 docs you shard by hash(doc_id) % K and each shard packs
   independently.

All expressions are JVM-side (md5/conv/explode/window); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dmp_crawler_spark.functions import textstats as TS


# ---------------------------------------------------------------------------
# Benchmark decontamination


def benchmark_ngrams(
    bench: DataFrame, n: int = 8, text_col: str = "text"
) -> DataFrame:
    """Distinct word n-grams of the benchmark texts: one column `gram`.

    Same shingling convention as the dedup family (textstats.shingles):
    whitespace-split lowercased trimmed text; a document shorter than n
    tokens contributes its whole text as one gram.
    """
    return (
        bench.select(F.array_distinct(TS.shingles(text_col, n)).alias("_sh"))
        .select(F.explode("_sh").alias("gram"))
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    n: int = 8,
    frac_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document benchmark-overlap stats:
    (doc_id, n_matched, n_grams, contaminated).

    n_matched = distinct n-grams shared with the benchmark set,
    n_grams = distinct n-grams in the doc, contaminated = 1 iff
    n_matched >= frac_threshold * n_grams. Only docs with at least one
    matching gram are returned (the clean bulk never leaves the map side).
    """
    grams = benchmark_ngrams(bench, n=n, text_col=text_col)
    # Two-step projection on purpose: materialize the distinct-shingle
    # array BEFORE the explode so the Generate consumes a bound column.
    # Putting explode(expr) and size(expr) in one select leaves both
    # copies of the O(len) shingle expression inline under the Generate
    # (same CollapseProject trap as the Gopher repetition filters) —
    # measured 22× slower at sf0.01 (16.4 s vs 0.75 s). explode_outer,
    # not explode: the plain explode plants a `size(sh) > 0` guard that
    # Catalyst pushes below the projection, re-evaluating the whole
    # shingle stack a second time per row (measured 2× at sf0.1); the
    # guard is vacuous — shingles() never returns an empty array — and
    # a null gram can't survive the inner join anyway.
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(TS.shingles(text_col, n)).alias("_sh"),
    )
    doc_grams = sh.select(
        "doc_id",
        F.explode_outer("_sh").alias("gram"),
        F.size("_sh").alias("n_grams"),
    )
    matched = (
        doc_grams.join(F.broadcast(grams), "gram")
        .groupBy("doc_id")
        .agg(
            # array_distinct before the explode ⇒ one row per (doc, gram):
            # count(*) IS the distinct-match count, partially aggregated
            # map-side before the doc_id exchange
            F.count(F.lit(1)).alias("n_matched"),
            F.first("n_grams").alias("n_grams"),
        )
    )
    return matched.select(
        "doc_id",
        "n_matched",
        "n_grams",
        (F.col("n_matched") >= F.lit(frac_threshold) * F.col("n_grams"))
        .cast("int")
        .alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Domain mixing (deterministic weighted up/down-sampling)


def sample_bucket(id_col: str | F.Column) -> F.Column:
    """Deterministic sampling bucket in [0, 10000): first 4 hex chars of
    md5(cast(id as string)) parsed base-16, mod 10000. Pure function of the
    id — reproducible across retries, resumes, and cluster sizes, and
    expressible identically in any engine with md5 (the oracle replays it
    in DuckDB as ('0x' || substr(md5(id), 1, 4))::BIGINT % 10000)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return (
        F.conv(F.substring(F.md5(c.cast("string").cast("binary")), 1, 4), 16, 10)
        .cast("long")
        % 10000
    )


def domain_mix(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Weighted source mixing: `weights` is (source, rate_bp) where rate_bp
    is the sampling rate in basis points of 10000 — 2500 keeps ~25% of the
    source, 25000 emits every doc 2 times plus a third copy for ~50% of
    docs (2.5 epochs). Returns the input rows with an added `epoch` column
    (1..copies); rate_bp = 0 drops the source entirely."""
    rated = docs.join(F.broadcast(weights), source_col).withColumn(
        "_copies",
        (F.col("rate_bp") / 10000).cast("long")
        + (sample_bucket(id_col) < F.col("rate_bp") % 10000).cast("long"),
    )
    return (
        rated.filter(F.col("_copies") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("_copies"))))
        .drop("_copies", "rate_bp")
    )


def domain_mix_summary(
    docs: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source mixing audit: (source, rate_bp, n_docs, rows_out).
    Sources sampled to zero still appear (rows_out = 0) — a mixing table
    that silently loses a source is how corpora ship broken."""
    n_docs = docs.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    rows_out = (
        domain_mix(docs, weights, id_col=id_col, source_col=source_col)
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("rows_out"))
    )
    return (
        weights.join(n_docs, source_col, "left")
        .join(rows_out, source_col, "left")
        .select(
            source_col,
            "rate_bp",
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("rows_out", F.lit(0)).alias("rows_out"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic seeded shuffle + sharding


def shuffle_key(id_col: str | F.Column, seed: int) -> F.Column:
    """60-bit deterministic order key: first 15 hex chars of
    md5('<seed>:<id>') parsed base-16. Pure function of (seed, id) —
    the oracle replays it in DuckDB as
    ('0x' || substr(md5(seed || ':' || id), 1, 15))::BIGINT."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    key_str = F.concat(F.lit(f"{seed}:"), c.cast("string"))
    return F.conv(
        F.substring(F.md5(key_str.cast("binary")), 1, 15), 16, 10
    ).cast("long")


def shuffle_shards(
    docs: DataFrame, n_shards: int, seed: int = 0, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic seeded corpus shuffle: adds (shard, pos) where
    shard = key % n_shards and pos is the dense 1-based rank of the key
    within the shard (ties broken by id, so the output is a total order
    even under md5-key collisions). Same (seed, id) → same (shard, pos)
    regardless of input partitioning or cluster size.

    Plan shape: ONE hash exchange (on shard) + a per-shard window rank.
    No global sort and no range partitioning — each shard orders its own
    ~1/n_shards slice independently, so the layout a shard writer needs
    ('read shard k, write records in pos order') falls out of the plan
    without ever serializing a 10^10-row global ordering."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    keyed = docs.withColumn("_k", shuffle_key(id_col, seed)).withColumn(
        "shard", (F.col("_k") % n_shards).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("_k", id_col)
    return keyed.withColumn("pos", F.row_number().over(w)).drop("_k")


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-chunk)


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    shard_col: str = "shard",
    order_col: str = "doc_id",
) -> DataFrame:
    """Concat-and-chunk packing of rows that already carry `n_tokens`:
    within each shard, rows are laid out contiguously in `order_col` order
    and cut into fixed `capacity`-token sequences (documents may span a
    boundary — the GPT pretraining layout). Returns the input columns plus
    (start_off, first_seq, last_seq).

    One shuffle (partitionBy shard); the cumsum is a running window within
    the shard, so no global ordering exists anywhere in the plan.
    """
    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    off = docs.withColumn(
        "start_off", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    last_tok = F.col("start_off") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1
    return off.select(
        "*",
        F.floor(F.col("start_off") / capacity).alias("first_seq"),
        # empty docs occupy no tokens: pin them to their start boundary
        F.floor(last_tok / capacity).alias("last_seq"),
    )
