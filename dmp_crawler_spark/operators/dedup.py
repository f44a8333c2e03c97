"""Deduplication operators for web-text curation at 100 TB scale.

All variants operate on a documents DataFrame (doc_id, text) and return
DataFrames; everything except the hash math is built-in Column expressions
(JVM-side). Shuffle analysis per operator in its docstring.

 - exact_dedup:      one hash-groupBy shuffle on a 64-bit fingerprint
 - minhash_lsh_dedup: shingle → minhash sigs (JVM xxhash64 + aggregate) →
                      band buckets → self-join within buckets (the LSH
                      trick keeps the join from being O(n²))
 - simhash:          64-bit near-dup signature; hamming-ball grouping via
                     band keys
 - ngram_jaccard:    exact pairwise Jaccard, but only within LSH buckets
 - embedding near-dup: cosine over an embedding column within LSH buckets
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dmp_crawler_spark.functions.textstats import doc_fingerprint, shingles


def _widen_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW input up to cluster width before
    expensive per-row compute (shingle explode + N hash evals per row).

    At 100 TB a parquet scan arrives with thousands of splits and this is
    a no-op (the partition count already exceeds the core count). At
    bench/test scale the whole documents table is ONE sub-MB file = one
    split = one row-group, which Spark cannot subdivide — so the
    per-row hot path (the dominant cost of every signature build) would
    run on a single core of local[32]. The few-KB round-robin shuffle
    buys a cluster-wide compute stage — the same reasoning as the fetch
    stage's repartition (corpus/generator.py fetch_extract)."""
    sc = df.sparkSession.sparkContext
    width = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(width) if n < width else df


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy on the normalized fingerprint. One shuffle;
# partial aggregation makes the map side cheap. keep='min' gives a
# deterministic survivor.


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    fp = doc_fingerprint(text_col).alias("fingerprint")
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    return (
        docs.withColumn("fingerprint", fp)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(fingerprint, n_dups, doc_ids) for groups with >1 member."""
    return (
        docs.select(F.col(id_col), doc_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash: num_hashes permutations simulated as xxhash64(shingle, seed_i);
# signature[i] = min over shingles. All JVM-side: transform + aggregate.


def minhash_signature(text_col: str | Column, num_hashes: int = 32, k_shingle: int = 5) -> Column:
    sh = shingles(text_col, k_shingle)
    sigs = [
        F.array_min(F.transform(sh, lambda s, i=i: F.xxhash64(s, F.lit(i))))
        for i in range(num_hashes)
    ]
    return F.array(*sigs)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    k_shingle: int = 5,
) -> DataFrame:
    """(id, sig: array<long>) via explode → hash → min-aggregate.

    The Column form (minhash_signature) embeds the shingle expression once
    PER hash function — Catalyst does not CSE it, so 32 hashes recompute
    the split/slice/join pipeline 32×. Exploding shingles once and taking
    32 per-row hashes into a partial-aggregating min is both cheaper and
    skew-safe (map-side combine bounds the shuffle by distinct shingles)."""
    docs = _widen_scan(docs)
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(text_col, k_shingle))).alias("s"),
    )
    hashed = sh.select(
        "id", *[F.xxhash64("s", F.lit(i)).alias(f"h{i}") for i in range(num_hashes)]
    )
    agg = hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(num_hashes)]
    )
    return agg.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    k_shingle: int = 5,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band bucket,
    with their estimated Jaccard (signature agreement rate).

    Plan: the bucket self-join carries ONLY (id, band, bucket) — the
    32-long signature arrays would otherwise be shuffled `bands`× per
    side; signatures are re-attached to the (usually tiny) surviving
    distinct pair set afterwards. Hot buckets are exact-dup clusters,
    handled upstream by exact_dedup."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, id_col, text_col, num_hashes, k_shingle)
    banded = sig.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", *[
                            F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                            for r in range(rows_per_band)
                        ])
                    ).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sim = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(num_hashes)
    return (
        cand.join(sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a")
        .join(sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
        .select("id_a", "id_b", sim.alias("est_jaccard"))
    )


def minhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Drop the higher-id member of every near-dup pair above threshold.
    (Union-find clustering is a driver-free iteration at scale; pair-drop
    is the standard single-pass approximation.)"""
    pairs = minhash_lsh_pairs(docs, id_col, text_col, **kw).filter(
        F.col("est_jaccard") >= threshold
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return docs.join(losers, id_col, "left_anti")


def _driver_union_find(spark, src, dst, id_type):
    """Exact union-find over a driver-resident edge list; component root =
    min node id (larger root always attaches under smaller, so the final
    root of every component is its minimum id — identical semantics to
    min-label propagation). Path-halving keeps find near-O(1)."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while parent[r] != r:
            parent[r] = parent[parent[r]]  # path halving
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in zip(src, dst):
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    import pandas as pd

    nodes = list(parent)
    pdf = pd.DataFrame({"id": nodes, "cluster_id": [find(n) for n in nodes]})
    schema = T.StructType(
        [T.StructField("id", id_type), T.StructField("cluster_id", id_type)]
    )
    return spark.createDataFrame(pdf, schema)


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iters: int = 25,
    driver_gate: int = 2_000_000,
) -> DataFrame:
    """(id, cluster_id) for every node in `pairs`, cluster_id = min node id
    of its connected component — the exact clustering pair-drop dedup
    approximates.

    Two physical strategies behind one contract, picked by the size of the
    PAIR set (not the corpus — a near-dup pair graph is orders of magnitude
    smaller than the corpus that produced it):

    * pair set ≤ ``driver_gate`` rows: collect the edges (Arrow batch) and
      solve union-find on the driver — exact, one Spark action, no
      iteration. This is the same resource contract Spark's own
      broadcast-hash join makes (collect the small side to the driver);
      2M edges ≈ 32 MB of longs. At bench/driver scale every propagation
      round below costs more than the whole union-find.
    * larger: distributed min-label propagation — every node starts
      labeled with its own id; each round joins labels across edges and
      keeps the per-node min; stop when a round changes nothing. Rounds
      needed = graph diameter (tiny for dense dup groups); each round is
      one shuffle on the pair set, never O(n²); localCheckpoint truncates
      the iterative lineage (the standard Spark CC shape, cf. GraphFrames'
      label propagation).

    The gate probe is a CollectLimit(driver_gate+1), which early-terminates
    on partitions, so an over-gate graph pays only a partial scan before
    falling through to the distributed path. ``driver_gate=0`` forces the
    distributed path."""
    raw = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    if driver_gate and driver_gate > 0:
        head = raw.limit(driver_gate + 1).toArrow()
        if head.num_rows <= driver_gate:
            return _driver_union_find(
                pairs.sparkSession,
                head.column("src").to_pylist(),
                head.column("dst").to_pylist(),
                raw.schema["src"].dataType,
            )
    edges = (
        raw.unionByName(raw.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
    )
    n_changed = 0
    for _ in range(max_iters):
        # candidate label for each node: the min of its neighbors' labels
        nbr = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        updated = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nbr_min", F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.coalesce("nbr_min", F.col("cluster_id")) < F.col("cluster_id"))
                .cast("int")
                .alias("changed"),
            )
            .localCheckpoint()  # eager: bounds lineage AND gives a cheap agg below
        )
        n_changed = updated.agg(F.sum("changed")).first()[0] or 0
        labels = updated.drop("changed")
        if n_changed == 0:
            break
    if n_changed > 0:
        # A component whose min-id node has eccentricity > max_iters would
        # otherwise return plausible-but-wrong cluster_ids; make that loud
        # (ADVICE r03). Near-dup components are dense (tiny diameter), so
        # hitting this means the input is not the expected pair shape.
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            f"rounds ({n_changed} labels still changing); raise max_iters "
            "for graphs with diameter > max_iters"
        )
    return labels


def near_dup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    **kw,
) -> DataFrame:
    """Exact near-dup clusters (doc_id, cluster_id) over the LSH pair set:
    the production dedup shape — keep one representative per cluster
    (cluster_id = min doc id) instead of pair-drop's per-pair decision."""
    pairs = minhash_lsh_pairs(docs, id_col, text_col, **kw).filter(
        F.col("est_jaccard") >= threshold
    )
    return connected_components(pairs).withColumnRenamed("id", id_col)


# ---------------------------------------------------------------------------
# SimHash: 64-bit signature; bit i = sign of Σ weight(token)·(±1 from
# token hash bit i). Pure JVM: explode tokens → per-bit aggregate.


def md5_token_hash(tok: Column) -> Column:
    """60-bit token hash from the first 15 hex chars of md5 — SLOW path,
    exists only because it is reproducible in ANSI SQL/DuckDB (the
    correctness-oracle hash); the default xxhash64 is the JVM fast path."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            hash_expr=None, n_bits: int = 64) -> DataFrame:
    # Two plan shapes, same result (Σ_occurrences ±1 ≡ Σ_distinct cnt·±1):
    #
    # * default (cheap xxhash64): hash EVERY occurrence and feed the
    #   per-bit sums directly — ONE partial-aggregating shuffle on id.
    # * custom hash_expr (the md5 oracle-parity hash — the dominant
    #   per-row cost on that path): pre-aggregate to distinct (id, tok)
    #   first so the hash runs once per distinct pair instead of per
    #   occurrence (measured 2.3× fewer evals on the sf0.1 corpus), at
    #   the price of a second narrow shuffle.
    dedupe_tokens = hash_expr is not None
    hash_expr = hash_expr or (lambda t: F.xxhash64(t))
    docs = _widen_scan(docs)
    ex = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    )
    if dedupe_tokens:
        toks = (
            ex.groupBy("id", "tok")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("h", hash_expr(F.col("tok")))
        )
        term = "cnt * ((shiftright(h, {i}) & 1) * 2 - 1)"
    else:
        toks = ex.withColumn("h", hash_expr(F.col("tok")))
        term = "(shiftright(h, {i}) & 1) * 2 - 1"
    # the per-bit aggregates are built as SQL expression strings, not
    # nested Column objects: composing 60 sum(when(...)) trees costs ~8
    # py4j round trips per bit (~3.7 s of driver time per plan build,
    # measured at sf0.01 where execution itself is <1 s); F.expr parses
    # JVM-side in one call per bit. `cnt * (bit*2 - 1)` is the branch-free
    # form of when(bit==1, cnt).otherwise(-cnt)
    bit_sums = toks.groupBy("id").agg(*[
        F.expr(f"sum({term.format(i=i)}) as b{i}") for i in range(n_bits)
    ])
    # one expression string for the whole signature assembly (bit 63 wraps
    # to the sign bit, as intended)
    assemble = " + ".join(
        f"if(b{i} > 0, shiftleft(1L, {i}), 0L)" for i in range(n_bits)
    )
    sig = bit_sums.select("id", F.expr(f"({assemble}) as simhash"))
    return sig.withColumnRenamed("id", id_col)


def simhash_near_pairs(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3,
                       hash_expr=None, n_bits: int = 64) -> DataFrame:
    """Near-dup pairs by simhash: 4-band pigeonhole (hamming ≤3 ⇒ some
    16-bit band equal — an EXACT recall guarantee, not probabilistic) →
    bucket join → exact popcount check."""
    sig = simhash(docs, id_col, text_col, hash_expr=hash_expr, n_bits=n_bits)
    banded = sig.select(
        F.col(id_col).alias("id"), "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * 16).bitwiseAND(F.lit(0xFFFF)).alias("bucket"),
            ) for b in range(4)
        ])).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard: exact set Jaccard over shingles, evaluated only on LSH
# candidate pairs (never all-pairs).


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k_shingle: int = 3,
                        threshold: float = 0.5, **lsh_kw) -> DataFrame:
    # the candidate set is tiny (LSH survivors) but appears three times in
    # the final plan (the exact-jaccard join + both sides of the
    # candidate-doc union below) — checkpoint it locally so the banded
    # self-join runs once per action instead of three times; the RDD is
    # new per call, so no later call can match it
    cand = minhash_lsh_pairs(
        docs, id_col, text_col, k_shingle=k_shingle, **lsh_kw
    ).localCheckpoint(eager=False)
    # exact shingle sets ONLY for docs that appear in a candidate pair:
    # the full-corpus shingle projection is O(corpus) split/transform
    # work, while the candidate id set is the (tiny) LSH survivor set —
    # the semi-join pushes below the projection, so non-candidate docs
    # never pay it
    ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # sh appears on BOTH sides of the exact-jaccard join below; without a
    # materialization the shingle projection + semi-join runs twice per
    # action (measured ~2× the whole query's warm cost at sf0.1). The set
    # is tiny — candidate docs only — so checkpoint it locally like cand
    sh = (
        docs.select(F.col(id_col).alias("id"), text_col)
        .join(ids, "id", "left_semi")
        .select(
            "id", F.array_distinct(shingles(text_col, k_shingle)).alias("sh")
        )
        .localCheckpoint(eager=False)
    )
    j = (
        cand.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        .select(
            "id_a", "id_b",
            F.when(F.col("uni") > 0, F.col("inter") / F.col("uni"))
            .otherwise(F.lit(0.0)).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# Embedding cosine near-dup: normalize, LSH via random-hyperplane sign bits
# (deterministic hyperplanes from xxhash64 of (dim, seed)), bucket join,
# exact cosine via zip_with/aggregate — JVM-side, no UDF.


def _cosine(a: Column, b: Column) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, v: s + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def cosine_sim(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return _cosine(a, b)


def hyperplane_weights(dim: int, n_planes: int) -> list[list[float]]:
    """The sign-LSH hyperplane matrix, computed in PURE PYTHON via the
    driver-side xxhash64 replica (functions/pyhash.py) — no Spark job at
    plan-build time, so the operator is a lazy plan builder again and
    works on streaming DataFrames (ADVICE r02). Values are bit-identical
    to the old in-plan expression
    `(xxhash64(cast(i as string), p) % 1000) / 500.0 - 1.0`
    (Java % keeps the dividend's sign; parity-tested)."""
    from dmp_crawler_spark.functions.pyhash import java_rem, spark_xxhash64

    return [
        [java_rem(spark_xxhash64(str(i), p), 1000) / 500.0 - 1.0
         for i in range(dim)]
        for p in range(n_planes)
    ]


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    bands: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vectors: sign-LSH buckets then exact cosine.

    Plan shape (round-2 verdict item 5): the banded self-join carries ONLY
    (id, band, bucket) — embeddings would otherwise be duplicated `bands`×
    on both sides of the shuffle; vectors are re-attached to the (tiny)
    surviving distinct pair set, the same pattern as minhash_lsh_pairs.

    `dim` is the vector dimensionality; when omitted it is inferred with a
    .first() job (convenience for fixed-dim batch inputs — pass it
    explicitly for streaming sources or mixed-prefix data)."""
    rows_per_band = n_planes // bands
    if dim is None:
        dim_row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = int(dim_row["d"]) if dim_row is not None else 0
    planes = hyperplane_weights(dim, n_planes)

    def plane_dot(p: int) -> Column:
        w = F.array(*[F.lit(x) for x in planes[p]])
        return F.aggregate(
            F.zip_with(F.col(vec_col), w, lambda v, wi: v * wi),
            F.lit(0.0), lambda s, v: s + v,
        )

    bits = [F.when(plane_dot(p) >= 0, F.lit(1)).otherwise(F.lit(0)) for p in range(n_planes)]
    sig = emb.select(
        F.col(id_col).alias("id"), F.array(*bits).alias("bits")
    )
    banded = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("", *[
                    F.element_at("bits", b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ]).alias("bucket"),
            ) for b in range(bands)
        ])).alias("bk"),
    ).select("id", "bk.band", "bk.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    vecs = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b")), "id_b")
        .select(
            "id_a", "id_b",
            _cosine(F.col("vec_a"), F.col("vec_b")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# CCNet-style cross-document line dedup (Wenzek et al. 2019): boilerplate
# lines (nav menus, cookie banners, footers) repeat across many pages of a
# site; dropping every line whose normalized form occurs in more than K
# distinct documents removes them corpus-wide without any per-site rules.


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 2,
) -> DataFrame:
    """Drop lines appearing in more than ``max_doc_freq`` distinct docs →
    (id, clean_text, n_lines, n_kept).

    Line key = lower(trim(line)); blank lines are always dropped.
    ``clean_text`` rebuilds the kept lines in original order ('\\n'
    joined, '' when nothing survives), so the output is a drop-in
    replacement text column.

    Plan shape for 100 TB: posexplode (line order rides as an int, never
    re-derived) → count(DISTINCT id) per norm (two-level partial agg) →
    join lines⋈freqs on norm → groupBy(id) ordered reassembly. The
    norm-key join is the skew point (a corpus-wide boilerplate line is a
    hot key); freqs carries one row per distinct norm so AQE's skew-join
    split handles it, and only (norm, nd) rides the build side — never
    text bodies. n_lines (non-blank line count) is a per-row array
    expression on the base branch, NOT a third pass over the exploded
    lines — the corpus is read twice (freq count + join side), no more.
    """
    lines = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("norm", F.lower(F.trim(F.col("line"))))
    nonblank = lines.filter(F.col("norm") != "")
    freqs = nonblank.groupBy("norm").agg(
        F.countDistinct("id").alias("nd")
    )
    kept = (
        nonblank.join(freqs, "norm")
        .filter(F.col("nd") <= max_doc_freq)
        .groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    n_lines = F.size(
        F.filter(
            F.transform(F.split(F.col(text_col), "\n"), lambda x: F.trim(x)),
            lambda x: x != F.lit(""),
        )
    )
    base = docs.select(
        F.col(id_col).alias("id"), n_lines.cast("long").alias("n_lines")
    )
    return (
        base.join(kept, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        )
    )
