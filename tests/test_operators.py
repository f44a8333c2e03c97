"""Training-data operators: dedup suite, similarity search, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dmp_crawler_spark.operators import dedup, multimodal, similarity


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (1, "the quick brown fox jumps over the lazy dog again and again today"),
        (2, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog again and again tonight"),  # near dup
        (4, "completely different text about apache spark distributed computing engines"),
        (5, "another unrelated document mentioning parquet files and shuffle partitions"),
        (6, "The  quick  brown fox jumps over the lazy dog again and again today"),  # ws/case dup of 1
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3, 4, 5]  # 2 and 6 collapse into 1


def test_exact_dup_groups(docs):
    g = dedup.exact_dup_groups(docs).collect()
    assert len(g) == 1
    assert g[0]["doc_ids"] == [1, 2, 6]


def test_minhash_pairs_find_near_dup(docs):
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=16, k_shingle=3)
    got = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    assert got.get((1, 2)) == 1.0
    assert (1, 3) in got and got[(1, 3)] > 0.4
    assert (4, 5) not in got


def test_minhash_dedup(docs):
    out = dedup.minhash_dedup(docs, threshold=0.99, num_hashes=32, bands=16, k_shingle=3)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert 1 in ids and 2 not in ids and 4 in ids and 5 in ids


@pytest.mark.parametrize("gate", [2_000_000, 0])
def test_connected_components_chain_and_cycle(spark, gate):
    # chain 1-2-3-4 plus cycle 10-11-12-10 plus isolated pair (20,21):
    # labels must converge to the component min even across multi-hop
    # paths — on BOTH physical strategies (gate>0: driver union-find;
    # gate=0: distributed min-label propagation)
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (21, 20)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["cluster_id"]
           for r in dedup.connected_components(pairs, driver_gate=gate).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_gate_fallthrough_and_nonconvergence(spark):
    # a pair set larger than driver_gate must fall through to the
    # distributed path (same answer); a path graph whose diameter exceeds
    # max_iters must raise loudly there instead of returning wrong labels
    chain = [(i, i + 1) for i in range(30)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {r["id"]: r["cluster_id"]
           for r in dedup.connected_components(
               pairs, max_iters=40, driver_gate=5).collect()}
    assert got == {i: 0 for i in range(31)}
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iters=3, driver_gate=0)


def test_near_dup_clusters(docs):
    # docs 1,2,6 are exact dups and 3 is a near-dup of 1: one cluster
    # rooted at min id 1; everything else is untouched (absent)
    out = {r["doc_id"]: r["cluster_id"]
           for r in dedup.near_dup_clusters(
               docs, threshold=0.4, num_hashes=32, bands=16, k_shingle=3
           ).collect()}
    assert out[1] == 1 and out[2] == 1 and out[3] == 1 and out[6] == 1
    assert 4 not in out and 5 not in out


def test_simhash_near_pairs(docs):
    pairs = dedup.simhash_near_pairs(docs, max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((1, 2)) == 0
    assert (1, 3) in got


def test_simhash_default_matches_python_xxh64(spark, sf_dir):
    """The production simhash (library-default xxhash64, 64 bits) has no
    SQL oracle, so replay it in pure Python on the sf0.01 documents:
    Java `\\s` token split, Spark's seed-42 xxhash64 per token, bit i set
    when Σ±1 > 0. Signatures and the hamming-≤3 pair set must both match
    the library's output exactly."""
    import re

    import __spark_entry__ as entrymod
    from dmp_crawler_spark.functions.pyhash import spark_xxhash64

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    want = {}
    for r in docs.collect():
        sums = [0] * 64
        for tok in re.split(r"[ \t\n\x0b\f\r]+", r["text"].lower()):
            h = spark_xxhash64(tok)
            for i in range(64):
                sums[i] += 1 if (h >> i) & 1 else -1
        sig = sum(1 << i for i in range(64) if sums[i] > 0)
        want[r["doc_id"]] = sig - (1 << 64) if sig >= 1 << 63 else sig
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert got == want
    ids = sorted(want)
    ham = lambda a, b: ((want[a] ^ want[b]) & ((1 << 64) - 1)).bit_count()  # noqa: E731
    want_pairs = {
        (a, b, ham(a, b))
        for i, a in enumerate(ids) for b in ids[i + 1:] if ham(a, b) <= 3
    }
    got_pairs = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in entrymod.simhash_pairs_default(spark, sf_dir).collect()
    }
    assert got_pairs == want_pairs and want_pairs


def test_ngram_jaccard(docs):
    pairs = dedup.ngram_jaccard_pairs(
        docs, k_shingle=3, threshold=0.3, num_hashes=32, bands=16
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got.get((1, 2)) == 1.0
    assert 0.5 < got.get((1, 3), 0) < 1.0


@pytest.fixture(scope="module")
def embeddings(spark):
    import math
    rows = []
    for i in range(40):
        angle = (i % 8) / 8.0 * math.pi
        vec = [math.cos(angle), math.sin(angle), 0.1 * (i % 3), 1.0]
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_near_dup(embeddings):
    pairs = dedup.embedding_near_dup_pairs(embeddings, threshold=0.999)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # vectors i and i+24 (same angle, same i%3) are identical
    assert (0, 24) in got
    assert all(a % 8 == b % 8 for a, b in got)
    # explicit dim must not change results (and skips the .first() job)
    explicit = dedup.embedding_near_dup_pairs(embeddings, threshold=0.999, dim=4)
    assert {(r["id_a"], r["id_b"]) for r in explicit.collect()} == got


def test_embedding_lsh_join_carries_no_vectors(embeddings):
    """Verdict r02 item 5: the banded self-join must not shuffle the
    embedding arrays — both join inputs project to (id, band, bucket)
    only; vectors re-attach to the surviving pair set afterwards."""
    import re

    df = dedup.embedding_near_dup_pairs(embeddings, threshold=0.999)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # the band-bucket join's inputs are bare (id, band, bucket) projections
    assert re.search(
        r"Project \[id#\d+L?, bk#\d+\.band AS band#\d+, bk#\d+\.bucket AS bucket#\d+\]",
        plan,
    ), plan
    # and no join CONDITION references the embedding payload
    for line in plan.splitlines():
        if "Join" in line and "band" in line:
            assert "embedding" not in line and "vec" not in line, line


def test_pyhash_matches_spark_xxhash64(spark):
    """Driver-side xxhash64 replica (functions/pyhash.py) is bit-identical
    to the in-plan expression for the (string, int) pattern the LSH
    hyperplanes use, and for plain strings/longs."""
    from dmp_crawler_spark.functions import pyhash

    rows = [(str(i), i * 7 - 3) for i in range(0, 200, 7)]
    rows += [("", 0), ("a" * 40, 5), ("汉字测试内容超过三十二字节的字符串啊", -9)]
    df = spark.createDataFrame(rows, "s string, p int")
    got = df.select(
        "s", "p",
        F.xxhash64("s", "p").alias("h_si"),
        F.xxhash64("s").alias("h_s"),
        F.xxhash64(F.col("p").cast("long")).alias("h_l"),
    ).collect()
    for r in got:
        assert pyhash.spark_xxhash64(r["s"], r["p"]) == r["h_si"]
        assert pyhash.spark_xxhash64(r["s"]) == r["h_s"]
        assert pyhash.spark_xxhash64_long(r["p"]) == r["h_l"]


def test_hyperplane_weights_match_plan_expression(spark):
    """hyperplane_weights (pure Python) == the old Spark-job expression."""
    dim, n_planes = 16, 6
    want = {
        (r["p"], r["i"]): r["w"]
        for r in spark.range(dim * n_planes)
        .select(
            (F.col("id") % dim).cast("int").alias("i"),
            (F.col("id") / dim).cast("int").alias("p"),
        )
        .select(
            "i", "p",
            ((F.xxhash64(F.col("i").cast("string"), F.col("p")) % 1000) / 500.0 - 1.0).alias("w"),
        )
        .collect()
    }
    planes = dedup.hyperplane_weights(dim, n_planes)
    for p in range(n_planes):
        for i in range(dim):
            assert planes[p][i] == want[(p, i)], (p, i)


def test_brute_force_topk(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity.brute_force_topk(embeddings, q, k=5)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert len(rows) == 5
    assert rows[0]["vec_id"] == 0 and abs(rows[0]["cosine"] - 1.0) < 1e-9
    cos = [r["cosine"] for r in rows]
    assert cos == sorted(cos, reverse=True)


def test_ivf_topk_recall(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.brute_force_topk(embeddings, q, k=5)
    indexed, centroids = similarity.build_ivf_index(embeddings, n_cells=4)
    approx = similarity.ivf_topk(indexed, centroids, q, k=5, n_probe=3)
    e = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6  # 3/4 cells probed


def test_multimodal_features(spark):
    media = multimodal.generate_media(spark, 30)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r["feature"]) == multimodal.FEATURE_DIM for r in rows)
    # deterministic: same payload → same features
    again = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    assert all(again[r["media_id"]] == r["feature"] for r in rows)


def test_multimodal_frame_sampling(spark):
    media = multimodal.generate_media(spark, 12)
    frames = multimodal.sample_frames(media, every_ms=1000)
    per = {r["media_id"]: r["frame_idx"] for r in frames.collect()}
    vids = {r["media_id"]: r["meta"]["duration_ms"] for r in media.collect()
            if r["kind"] != "image"}
    n_by_media = frames.groupBy("media_id").count().collect()
    for r in n_by_media:
        dur = vids.get(r["media_id"])
        exp = max(1, (dur or 0) // 1000)
        assert r["count"] == exp


def test_multimodal_strict_raises_for_codecless_formats(spark):
    """strict=True decodes BMP for real; jpeg/wav/mp4 payloads (no codec
    libs in this container) must still fail loudly, now per-item inside
    the UDF rather than driver-side."""
    media = multimodal.generate_media(spark, 3)  # jpeg/wav/mp4 fakes
    with pytest.raises(Exception, match="strict decode implemented for BMP"):
        multimodal.extract_features(media, strict=True).collect()


def test_bmp_roundtrip_and_strict_features(spark):
    """REAL decode path (round-4 verdict #5): encode_bmp → decode_bmp is
    pixel-exact for bottom-up AND top-down storage; strict extract_features
    over a generated BMP table reproduces geometry, exact channel sums and
    pixel probes straight from the pixel formula."""
    import numpy as np

    for i in (0, 1, 6, 13, 255, 1000):
        px = multimodal._bmp_pixels(i)
        for td in (False, True):
            assert np.array_equal(
                multimodal.decode_bmp(multimodal.encode_bmp(px, top_down=td)), px
            )
    ids = spark.range(0, 20).select(F.col("id").alias("media_id"))
    media = multimodal.bmp_media_from_ids(ids)
    feats = multimodal.extract_features(media, strict=True)
    rows = {r["media_id"]: r["feature"] for r in feats.collect()}
    assert len(rows) == 20
    for i, f in rows.items():
        px = multimodal._bmp_pixels(i)
        h, w = px.shape[:2]
        expect = (
            [w, h]
            + px.reshape(-1, 3).sum(axis=0).tolist()
            + px[0, 0].tolist() + px[2, 1].tolist() + px[h - 1, w - 1].tolist()
        )
        assert [int(v) for v in f[:14]] == expect, i


def test_decode_bmp_rejects_malformed():
    import struct

    px = multimodal._bmp_pixels(5)
    good = multimodal.encode_bmp(px)
    for bad in (b"", b"XX" + b"\x00" * 60, good[:40], good[:60]):
        with pytest.raises(ValueError):
            multimodal.decode_bmp(bad)
    # unsupported variant: 8-bit palette
    hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + 64, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 8, 8, 1, 8, 0, 64, 2835, 2835, 0, 0
    )
    with pytest.raises(ValueError, match="unsupported BMP variant"):
        multimodal.decode_bmp(hdr + b"\x00" * 64)


def test_ivf_pretrained_centroids_exact_pruned(spark):
    """Pre-trained quantizer path (build_ivf_index(centroids=...)): with
    well-separated clusters and cluster-direction centroids, n_probe=1 of
    4 cells is lossless — the pruned result equals brute force exactly."""
    import math
    rows = []
    for i in range(48):
        c = i % 4
        vec = [
            (10.0 if j == c else 0.0) + ((i * 31 + j * 7) % 19) / 19.0 - 0.5
            for j in range(8)
        ]
        rows.append((i, vec))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = [[10.0 if j == c else 0.0 for j in range(8)] for c in range(4)]
    q = corpus.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.brute_force_topk(corpus, q, k=5)
    indexed, cents = similarity.build_ivf_index(corpus, n_cells=4, centroids=centroids)
    # every vector must land in its own cluster's cell
    cells = indexed.select("vec_id", "cell").collect()
    assert all(r["cell"] == r["vec_id"] % 4 + 1 for r in cells)
    pruned = similarity.ivf_topk(indexed, cents, q, k=5, n_probe=1)
    e = {(r["query_id"], r["vec_id"], r["rank"]) for r in exact.collect()}
    a = {(r["query_id"], r["vec_id"], r["rank"]) for r in pruned.collect()}
    assert e == a  # lossless despite touching 1/4 of the corpus


def test_ivf_pretrained_centroid_count_mismatch(spark):
    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    import pytest
    with pytest.raises(ValueError):
        similarity.build_ivf_index(corpus, n_cells=4, centroids=[[1.0, 0.0]])


def test_corpus_clean_each_stage_drops(spark, tmp_path):
    """corpus_clean end-to-end: every stage must drop exactly its doc —
    quality gate (13), language gate (15), normalized exact dedup (11),
    near-dup representative suppression (12)."""
    import __spark_entry__ as entrymod

    a = ("the quick brown fox jumps over the lazy dog again and again "
         "today it was a fine day")
    rows = [
        (10, a, "en"),
        # punct/case-only variant: normalized-equal to 10 -> exact dup
        (11, "The quick brown fox jumps over the lazy dog, again and "
             "again today it was a fine day!", "en"),
        # one word changed: Jaccard >= 0.5 near dup of 10
        (12, a.replace("today", "tonight"), "en"),
        # too short: quality 0.5 < 0.75
        (13, "hi", "en"),
        (14, "completely different long document about apache spark "
             "distributed computing and the shuffle service", "en"),
        # digits only: quality exactly 0.75 but lang_pred 'und'
        (15, " ".join(["12 34 56 78 90"] * 4), "en"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = entrymod.corpus_clean(spark, str(tmp_path)).collect()
    assert sorted(r["doc_id"] for r in out) == [10, 14]
    byid = {r["doc_id"]: r for r in out}
    assert byid[10]["quality"] == 1.0 and byid[10]["lang_pred"] == "en"


def test_widen_scan(spark, tmp_path):
    """_widen_scan: widens a single-split scan to cluster width and leaves
    already-wide inputs untouched (same plan object, no extra shuffle)."""
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/one")
    narrow = spark.read.parquet(f"{tmp_path}/one")
    assert narrow.rdd.getNumPartitions() == 1
    widened = dedup._widen_scan(narrow)
    width = spark.sparkContext.defaultParallelism
    assert widened.rdd.getNumPartitions() == width
    # row set unchanged
    assert sorted(r.id for r in widened.collect()) == list(range(100))

    wide = spark.range(100, numPartitions=width + 2)
    assert dedup._widen_scan(wide) is wide


def test_repetition_stats_each_arm(spark):
    """Gopher repetition filters: one planted doc per failure arm, plus a
    clean doc — the dup-line arms, the top-bigram arm, and the empty/
    degenerate edge all produce the documented values."""
    from dmp_crawler_spark.functions import textstats as TS

    rows = [
        # clean: 4 distinct lines, varied bigrams
        (1, "alpha beta gamma\ndelta epsilon zeta\neta theta iota\nkappa lambda mu"),
        # dup lines: 'spam ham' 3x of 4 lines -> dup_line_frac 0.5,
        # dup_line_char_frac = 1 - (7+26)/(21+26) = 0.2979
        (2, "spam ham\nspam ham\nspam ham\nunique line with more text"),
        # top bigram: 'buy now' 5x in 10 tokens -> 5 occurrences of the
        # modal bigram over 9 bigrams = 0.5556
        (3, "buy now buy now buy now buy now buy now"),
        # degenerate: single token, no bigrams, one line
        (4, "word"),
        # blank
        (5, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in TS.repetition_stats(df).collect()}
    assert len(out) == 5
    r1 = out[1]
    assert r1["dup_line_frac"] == 0.0 and r1["dup_line_char_frac"] == 0.0
    assert r1["rep_keep"]
    r2 = out[2]
    assert r2["dup_line_frac"] == 0.5
    assert r2["dup_line_char_frac"] == round(1 - (8 + 26) / (3 * 8 + 26), 4)
    assert not r2["rep_keep"]
    r3 = out[3]
    assert r3["top_bigram_frac"] == round(5 / 9, 4)
    assert not r3["rep_keep"]
    assert r3["dup_line_frac"] == 0.0
    r4 = out[4]
    assert (r4["dup_line_frac"], r4["top_bigram_frac"]) == (0.0, 0.0)
    assert r4["rep_keep"]
    r5 = out[5]
    assert (r5["dup_line_frac"], r5["dup_line_char_frac"],
            r5["top_bigram_frac"]) == (0.0, 0.0, 0.0)
    assert r5["rep_keep"]


def test_line_dedup_cross_doc_boilerplate(spark):
    """CCNet line dedup: the banner line shared by 3 docs drops, unique
    content survives in original order, within-doc repeats of a rare line
    survive (frequency is counted in DISTINCT docs), blank lines always
    drop, and an all-boilerplate doc comes back empty."""
    banner = "COOKIE BANNER accept all"
    rows = [
        (1, f"{banner}\nunique first line\n\nunique second line"),
        (2, f"intro text\n{banner}\nmore content here"),
        # rare line repeated twice WITHIN one doc: kept both times
        (3, f"{banner}\nrare line\nrare line"),
        (4, banner),           # everything boilerplate -> ''
        (5, "solo document"),  # untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.line_dedup(df, max_doc_freq=2).collect()}
    assert len(out) == 5
    assert out[1]["clean_text"] == "unique first line\nunique second line"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 2)
    assert out[2]["clean_text"] == "intro text\nmore content here"
    assert out[3]["clean_text"] == "rare line\nrare line"
    assert (out[3]["n_lines"], out[3]["n_kept"]) == (3, 2)
    assert out[4]["clean_text"] == "" and out[4]["n_kept"] == 0
    assert out[5]["clean_text"] == "solo document"
    # case/whitespace-insensitive norm: '  cookie banner ACCEPT ALL ' in a
    # 4th doc would also have dropped — verify the norm key directly
    df2 = df.union(spark.createDataFrame(
        [(6, "  cookie banner ACCEPT ALL \nfresh content")],
        "doc_id long, text string"))
    out2 = {r["doc_id"]: r for r in dedup.line_dedup(df2, max_doc_freq=2).collect()}
    assert out2[6]["clean_text"] == "fresh content"


def test_pii_scrub_patterns_and_order(spark):
    """PII scrub: each pattern hits its own shapes, word boundaries keep
    digit-adjacent lookalikes intact, and the email→IP→phone pass order
    composes (an IP-hosted address loses only its host part)."""
    from dmp_crawler_spark.functions import textstats as TS

    rows = [
        (1, "mail john.doe+x@sub.example.org today"),
        (2, "servers 192.168.0.1 and 10.0.0.255."),
        (3, "call 021-5555-0134 now"),
        (4, "not a phone 1021-5555-01345 nor an ip 1.2.3.4567"),
        (5, "plain text stays untouched"),
        (6, "ip-hosted a@1.2.3.4 address"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in TS.pii_scrub(df).collect()}
    assert out[1]["clean_text"] == "mail <EMAIL> today"
    assert (out[1]["n_emails"], out[1]["n_ips"], out[1]["n_phones"]) == (1, 0, 0)
    assert out[2]["clean_text"] == "servers <IP> and <IP>."
    assert out[2]["n_ips"] == 2
    assert out[3]["clean_text"] == "call <PHONE> now"
    assert out[4]["clean_text"] == rows[3][1]
    assert (out[4]["n_emails"], out[4]["n_ips"], out[4]["n_phones"]) == (0, 0, 0)
    assert out[5]["clean_text"] == rows[4][1]
    # '1.2.3.4' is not a valid email host (TLD must be alphabetic), so the
    # email pass skips it and the IP pass redacts just the host
    assert out[6]["clean_text"] == "ip-hosted a@<IP> address"
    assert (out[6]["n_emails"], out[6]["n_ips"]) == (0, 1)


def test_corpus_clean_v2_each_stage_drops(spark, tmp_path):
    """corpus_clean_v2 end-to-end: the boilerplate prefix shared by 3 docs
    is stripped by line dedup (the survivors keep their content), then
    each pipeline stage drops exactly its planted victim — exact dup (11
    of 10), near dup (23 of 22), quality (13), language (19), repetition
    gate (16). Doc ids of the dedup pairs avoid 3|id and 4|id so the
    deterministic PII planting can't perturb their text equality; docs
    must stay above ~10 bigrams post-strip or the tight top-2-gram gate
    (≤0.10) fires on 1/n_bigrams alone."""
    import __spark_entry__ as entrymod

    boiler = "subscribe our newsletter "
    a = ("the quick brown fox jumps over the lazy dog again and again "
         "today it was a fine day")
    b = ("every reader of this report should note that the results were "
         "stable and strong across all regions here")
    rows = [
        (10, boiler + a),
        # punct/case variant: some line norms differ but the doc-level
        # normalized text is equal -> exact dup of 10
        (11, boiler + "The quick brown fox jumps over the lazy dog, again "
             "and again today it was a fine day!"),
        (22, b),                                # near-dup pair base
        (23, b.replace("stable", "steady")),    # near dup of 22
        (13, "hi"),                             # quality gate
        # digits only, all bigrams distinct: passes quality (0.75) and the
        # repetition gate, fails language ('und') — id 19 gets no PII plant
        (19, "10 21 32 43 54 65 76 87 98 09 12 23 34 45 56 67 78 89 90 01"),
        # modal-bigram spam: passes quality, fails the repetition gate
        (16, ("buy now " * 20).strip()),
        (14, boiler + "completely different long document about apache "
             "spark distributed computing and the shuffle service"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = entrymod.corpus_clean_v2(spark, str(tmp_path)).collect()
    assert sorted(r["doc_id"] for r in out) == [10, 14, 22]
