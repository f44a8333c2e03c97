"""Frontier engine tests: ordering parity vs the single-process simulator,
bloom-shard dedup, robots evaluation, politeness budgets, checkpoint resume."""

from __future__ import annotations

import inspect
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from dmp_crawler_spark.corpus import generator, templates
from dmp_crawler_spark.frontier import bloom, politeness, robots as robots_mod
from dmp_crawler_spark.frontier.scheduler import CorpusFetcher, CrawlEngine
from dmp_crawler_spark.frontier.simulator import FrontierSimulator
from dmp_crawler_spark.frontier.urlnorm import (
    normalize_url, py_normalize_url, py_resolve_link,
)

N_URLS = 400
# a seed on a host of its own that no corpus page answers: a fetch miss
# every time it is admitted
BOGUS = "http://nohost.example.com/article/99999999.html"


@pytest.fixture(scope="module")
def corpus_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("corpus") / "pages")
    generator.write_pages(spark, N_URLS, p, partitions=4)
    return p


def _seeds(n=6):
    return [templates.url_for((i * 9973) % N_URLS, N_URLS) for i in range(n)] + [
        f"http://{templates.host_for(1, N_URLS)}/bbs_post/[1-3].html"
    ]


def _rules():
    return [
        (rf"https?://[^/]+/{arch}/\d+\.html", 1.0 + i * 0.1)
        for i, arch in enumerate(templates.ARCHETYPES)
    ]


def _mk_engine(spark, corpus_path, tmp_path, **kw):
    fetcher = CorpusFetcher(spark, corpus_path)
    site_rules = generator.generate_site_rules(spark)
    return CrawlEngine(
        spark, str(tmp_path), fetcher, site_rules,
        per_host_budget=kw.pop("per_host_budget", 3),
        global_budget=kw.pop("global_budget", None),
        # bloom_min_seen=0 / lsm_min_frontier=0 keep the bloom prefilter
        # and the LSM frontier log active at test scale (the production
        # defaults gate both off below ~1-2M rows)
        n_bloom_shards=8, bloom_min_seen=kw.pop("bloom_min_seen", 0),
        lsm_min_frontier=kw.pop("lsm_min_frontier", 0), **kw,
    )


def _visit_sets(engine):
    rows = engine.crawled_df().select("crawl_iter", "url").collect()
    out: dict[int, set] = {}
    for r in rows:
        out.setdefault(r["crawl_iter"], set()).add(r["url"])
    return out


def test_ordering_parity_with_simulator(spark, corpus_path, tmp_path):
    seeds = _seeds()
    engine = _mk_engine(spark, corpus_path, tmp_path)
    engine.init_from_seeds(spark.createDataFrame([(s, "") for s in seeds], "seed string, site string"))
    engine.run(max_iters=4)

    sim = FrontierSimulator(N_URLS, _rules(), per_host_budget=3)
    sim.init_from_seeds(seeds)
    sim.run(max_iters=4)

    sim_visits: dict[int, set] = {}
    for it, url in sim.state.visit_order:
        sim_visits.setdefault(it, set()).add(url)
    assert _visit_sets(engine) == sim_visits

    engine_seen = {
        r["url"] for r in engine.seen_df(sim.state.iter).select("url").collect()
    }
    assert engine_seen == sim.state.seen


def test_global_budget_parity(spark, corpus_path, tmp_path):
    seeds = _seeds()
    engine = _mk_engine(spark, corpus_path, tmp_path, global_budget=25)
    engine.init_from_seeds(spark.createDataFrame([(s, "") for s in seeds], "seed string, site string"))
    engine.run(max_iters=5)
    sim = FrontierSimulator(N_URLS, _rules(), per_host_budget=3, global_budget=25)
    sim.init_from_seeds(seeds)
    sim.run(max_iters=5)
    assert _visit_sets(engine) == {
        it_url[0]: {u for i2, u in sim.state.visit_order if i2 == it_url[0]}
        for it_url in sim.state.visit_order
    }
    total = sum(len(v) for v in _visit_sets(engine).values())
    assert total <= 25


def test_resume_from_checkpoint(spark, corpus_path, tmp_path):
    seeds = _seeds()
    sdf = spark.createDataFrame([(s, "") for s in seeds], "seed string, site string")

    full = _mk_engine(spark, corpus_path, tmp_path / "full")
    full.init_from_seeds(sdf)
    full.run(max_iters=3)

    part = _mk_engine(spark, corpus_path, tmp_path / "part")
    part.init_from_seeds(sdf)
    part.run(max_iters=2)
    # simulate crash + resume: brand-new engine object on the same state dir
    resumed = _mk_engine(spark, corpus_path, tmp_path / "part")
    resumed.run(max_iters=1)

    assert _visit_sets(full) == _visit_sets(resumed)
    k = full.last_checkpoint()["iter"]
    a = {r["url"] for r in full.seen_df(k).collect()}
    b = {r["url"] for r in resumed.seen_df(k).collect()}
    assert a == b


@pytest.mark.parametrize("gates", [
    {k: inspect.signature(CrawlEngine).parameters[k].default
     for k in ("bloom_min_seen", "lsm_min_frontier")},
    {"bloom_min_seen": 0, "lsm_min_frontier": 0},
], ids=["default_gates", "gates_at_0"])
def test_crawl_leaves_no_cache(spark, corpus_path, tmp_path, gates):
    """Engine construction and every step release what they cache: the
    per-iteration persists are unpersisted before step() returns and the
    site rules are never cached, so the session's CacheManager is empty
    after a run."""
    spark.catalog.clearCache()
    engine = _mk_engine(spark, corpus_path, tmp_path, **gates)
    engine.init_from_seeds(spark.createDataFrame([(s, "") for s in _seeds()], "seed string, site string"))
    engine.run(max_iters=2)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_failed_urls_retry_then_fail(spark, corpus_path, tmp_path):
    # a seed pointing at a URL not in the corpus exercises S3 retry + Q6
    bogus = "http://h1.example.com/article/99999999.html"
    engine = _mk_engine(spark, corpus_path, tmp_path, max_retries=2)
    engine.init_from_seeds(spark.createDataFrame([(bogus, "")], "seed string, site string"))
    engine.run(max_iters=4)
    # the second attempt's miss is the terminal failure record
    failed = engine.failed_df().collect()
    assert [(r["url"], r["retry_count"], r["failed_iter"]) for r in failed] == [
        (bogus, 1, 2)]
    # every iteration missed: the spill holds one miss row per attempt
    assert engine.results_df().count() == 0
    assert engine.crawled_df().count() == 0
    misses = spark.read.parquet(str(tmp_path / "combined")).filter(
        F.col("kind") == "miss").select("url", "retry_count", "iter").collect()
    assert sorted((r["iter"], r["retry_count"]) for r in misses) == [(1, 0), (2, 1)]
    assert {r["url"] for r in misses} == {bogus}


def test_bloom_prefilter_no_false_negatives(spark):
    seen = spark.range(0, 5000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 50).cast("string"),
                 F.lit(".example.com/p/"), F.col("id").cast("string")).alias("url")
    ).withColumn("url_hash", F.xxhash64("url")).withColumn(
        "host_hash", F.xxhash64(F.lower(F.parse_url("url", F.lit("HOST")))))
    import tempfile
    d = tempfile.mkdtemp()
    manifest = bloom.build_shards(seen, d, n_shards=8)
    # every seen url must be maybe_seen=True (no false negatives)
    tagged = bloom.prefilter(seen, manifest)
    assert tagged.filter(~F.col("maybe_seen")).count() == 0
    # most unseen urls should be filtered out (FP rate sanity)
    unseen = spark.range(5000, 10000).select(
        F.concat(F.lit("http://h"), (F.col("id") % 50).cast("string"),
                 F.lit(".example.com/p/"), F.col("id").cast("string")).alias("url")
    ).withColumn("url_hash", F.xxhash64("url")).withColumn(
        "host_hash", F.xxhash64(F.lower(F.parse_url("url", F.lit("HOST")))))
    fp = bloom.prefilter(unseen, manifest).filter(F.col("maybe_seen")).count()
    assert fp < 50  # fpp=1e-4 nominal; generous bound


def test_dedup_candidates_exactness(spark):
    import tempfile

    def keyed(ids):
        return (
            spark.createDataFrame(
                [(f"http://a.com/{i}",) for i in ids], "url string"
            )
            .withColumn("url_hash", F.xxhash64("url"))
            .withColumn("url_hash2", F.xxhash64("url", F.lit(1)))
            .withColumn("host_hash", F.xxhash64(F.lit("a.com")))
        )

    seen = keyed(range(100))
    d = tempfile.mkdtemp()
    manifest = bloom.build_shards(seen, d, n_shards=4)
    new, cache = bloom.dedup_candidates(keyed(range(50, 150)), seen, manifest)
    got = sorted(r["url"] for r in new.collect())
    assert got == sorted(f"http://a.com/{i}" for i in range(100, 150))
    # the bloom path hands its persisted candidates to the caller
    assert cache is not None and cache.storageLevel.useMemory
    cache.unpersist()


def test_robots_disallow_and_delay(spark):
    robots = spark.createDataFrame(
        [
            ("h0.example.com", "*", "disallow", "/private/", 0),
            ("h0.example.com", "*", "allow", "/", 2000),
            ("h1.example.com", "*", "allow", "/", 0),
        ],
        "host string, user_agent string, rule string, path_prefix string, crawl_delay_ms int",
    )
    frontier = spark.createDataFrame(
        [
            ("http://h0.example.com/private/x.html", "h0.example.com"),
            ("http://h0.example.com/public/x.html", "h0.example.com"),
            ("http://h1.example.com/anything.html", "h1.example.com"),
            ("http://h2.example.com/norules.html", "h2.example.com"),
        ],
        "url string, host string",
    )
    out = robots_mod.apply_robots(frontier, robots)
    urls = {r["url"]: r["crawl_delay_ms"] for r in out.collect()}
    assert "http://h0.example.com/private/x.html" not in urls
    assert urls["http://h0.example.com/public/x.html"] == 2000
    assert urls["http://h1.example.com/anything.html"] == 0
    assert urls["http://h2.example.com/norules.html"] is None


def test_politeness_budget_never_violated(spark):
    rows = [
        (f"http://h{i % 3}.example.com/p/{i}.html", f"h{i % 3}.example.com",
         i % 4, 0, 1.0, 0)
        for i in range(60)
    ]
    fr = spark.createDataFrame(
        rows,
        "url string, host string, depth int, discovery_iter int, score double, retry_count int",
    )
    admitted = politeness.admit(fr, per_host_budget=5)
    per_host = admitted.groupBy("host").count().collect()
    assert all(r["count"] <= 5 for r in per_host)
    # admitted rows are exactly the top-5 by priority key per host
    top = sorted(
        [r for r in rows if r[1] == "h0.example.com"],
        key=lambda r: (r[2], r[3], -r[4], r[0]),
    )[:5]
    got = sorted(
        r["url"] for r in admitted.filter(F.col("host") == "h0.example.com").collect()
    )
    assert got == sorted(t[0] for t in top)


def test_fused_fetcher_resume_parity(spark, tmp_path):
    """End-to-end over GeneratorFetcher: (a) a straight 3-iteration crawl
    and (b) a crawl stopped after iteration 2 and resumed by a NEW engine
    instance must produce the identical per-iteration visit log and
    results."""
    n = 300
    seeds_df = spark.createDataFrame(
        [(templates.url_for((i * 7919) % n, n), "") for i in range(5)],
        "seed string, site string",
    )
    rules = generator.generate_site_rules(spark)

    def mk(state_dir):
        return CrawlEngine(
            spark, str(state_dir), generator.GeneratorFetcher(spark, n),
            rules, per_host_budget=3, n_bloom_shards=8,
        )

    a = mk(tmp_path / "a")
    a.init_from_seeds(seeds_df)
    a.run(max_iters=3)

    b = mk(tmp_path / "b")
    b.init_from_seeds(seeds_df)
    b.run(max_iters=2)
    # crash: engine object discarded; fresh instance resumes from ckpt
    b2 = mk(tmp_path / "b")
    assert b2.last_checkpoint()["iter"] == 2
    b2.run(max_iters=1)

    assert _visit_sets(a) == _visit_sets(b2)
    res_a = {(r["rowkey"], r["family"]) for r in a.results_df().collect()}
    res_b = {(r["rowkey"], r["family"]) for r in b2.results_df().collect()}
    assert res_a == res_b and len(res_a) > 0


def test_cross_fetcher_parity(spark, tmp_path):
    """GeneratorFetcher (regenerate the page from its URL — the benchmark
    path) and CorpusFetcher (inner join to the pages table) run the same
    fused pass and differ only in the page source, so they must crawl
    EXACTLY alike: same visit log per iteration, same results, same page
    landing (kind='page' url, lang, text) and same crawled lang."""
    n = 300
    corpus = str(tmp_path / "pages")
    generator.write_pages(spark, n, corpus, partitions=4)
    seeds_df = spark.createDataFrame(
        [(templates.url_for((i * 7919) % n, n), "") for i in range(5)],
        "seed string, site string",
    )
    rules = generator.generate_site_rules(spark)

    engines = {}
    for name, fetcher in (
        ("corpus", CorpusFetcher(spark, corpus)),
        ("gen", generator.GeneratorFetcher(spark, n)),
    ):
        eng = CrawlEngine(
            spark, str(tmp_path / name), fetcher, rules,
            per_host_budget=3, n_bloom_shards=8,
        )
        eng.init_from_seeds(seeds_df)
        eng.run(max_iters=3)
        engines[name] = eng

    assert _visit_sets(engines["corpus"]) == _visit_sets(engines["gen"])
    res = {
        name: {(r["rowkey"], r["family"]) for r in e.results_df().collect()}
        for name, e in engines.items()
    }
    assert res["corpus"] == res["gen"] and len(res["gen"]) > 0
    landed = {
        name: sorted(
            tuple(r) for r in spark.read.parquet(str(tmp_path / name / "combined"))
            .filter(F.col("kind") == "page")
            .select("url", "lang", "text").collect()
        )
        for name in engines
    }
    assert landed["corpus"] == landed["gen"] and len(landed["gen"]) > 0
    crawled_lang = {
        name: sorted(
            tuple(r) for r in e.crawled_df().select("url", "lang").collect()
        )
        for name, e in engines.items()
    }
    assert crawled_lang["corpus"] == crawled_lang["gen"]
    assert {lang for _, lang in crawled_lang["gen"]} == {"zh", "en"}


def test_py_resolve_link_urljoin_parity():
    """py_resolve_link (the fetch worker's resolver) must be byte-identical
    to urljoin over the cross product of source shapes × href shapes, incl.
    '../' chains, './', query-only, fragment-only and empty hrefs, plus
    shapes that specifically exercise its guards: query-bearing pathless
    sources (the base regex must stop at '?'), dot segments inside
    absolute and root-relative hrefs (urljoin removes them even when the
    href is absolute — those must fall through), and uppercase schemes."""
    from urllib.parse import urljoin

    srcs = [
        "http://a.com/x/y.html",
        "http://a.com/x/y/z.html?q=1#f",
        "http://a.com/",
        "http://a.com",
        "http://a.com?q=1",
        "http://a.com:8080/x/",
        "https://b.com/p/q/r",
    ]
    hrefs = [
        "z.html", "./z.html", "../z.html", "../../z.html",
        "../../../../z.html", "a/../b.html", "./../a/./b/../c.html",
        "/abs/./x/../y.html", "/abs/y.html", "//c.com/d", "http://c.com/e",
        "http://c.com/e/../f.html", "HTTP://C.com/e", "https://c.com/e",
        "?q=2", "#frag", "", "sub/dir/", "..", "../", ".", "./",
        "/x?q=3#f", "/", "/..",
    ]
    bad = [
        (s, h, py_resolve_link(s, h), urljoin(s, h))
        for s in srcs
        for h in hrefs
        if py_resolve_link(s, h) != urljoin(s, h)
    ]
    assert not bad, bad


def test_normalize_url_strips_default_ports(spark):
    df = spark.createDataFrame(
        [
            ("http://a.com:80/x", "http://a.com/x"),
            ("http://a.com:80", "http://a.com"),
            ("https://a.com:443/x?q=1", "https://a.com/x?q=1"),
            ("http://a.com:8080/x", "http://a.com:8080/x"),
            ("https://a.com:80/x", "https://a.com:80/x"),
        ],
        "url string, expected string",
    )
    bad = df.select(
        normalize_url("url").alias("got"), "expected"
    ).filter(F.col("got") != F.col("expected")).collect()
    assert not bad, bad


def test_url_normalization_and_resolve():
    """The fused pass's link path: resolve, then normalize."""
    for src, href, expected in [
        ("http://A.Com/x/y.html", "z.html", "http://a.com/x/z.html"),
        ("http://a.com/x/y.html", "/root.html", "http://a.com/root.html"),
        ("http://a.com/x/y.html", "//b.com/c", "http://b.com/c"),
        ("http://a.com/x/y.html", "http://c.com/d#frag", "http://c.com/d"),
    ]:
        assert py_normalize_url(py_resolve_link(src, href)) == expected, href


def test_seen_anti_join_hash_keyed_and_shard_pruned(spark, corpus_path, tmp_path):
    """Verdict r02 item 2: the J1 anti-join keys on the 128-bit url
    fingerprint (url_hash, url_hash2 — two longs), never the url string,
    and the seen-side scan is pruned to the shard directories the
    bloom-positive candidates actually touch."""
    import re

    from dmp_crawler_spark.frontier.urlnorm import with_url_cols

    seeds = _seeds()
    engine = _mk_engine(spark, corpus_path, tmp_path)
    engine.init_from_seeds(
        spark.createDataFrame([(s, "") for s in seeds], "seed string, site string")
    )
    engine.run(max_iters=2)
    ck = engine.last_checkpoint()
    seen = engine.seen_df(ck["iter"], ck.get("seen_compact"))

    crawled = [r["url"] for r in engine.crawled_df().select("url").limit(3).collect()]
    fresh = "http://h1.example.com/article/99999998.html"
    cands = spark.createDataFrame(
        [(u,) for u in crawled + [fresh]], "url string"
    )
    cands = with_url_cols(cands.select(normalize_url("url").alias("url")))
    out, cache = bloom.dedup_candidates(
        cands, seen, ck.get("bloom_manifest"), n_shards=8
    )

    # semantics: crawled urls are deduped out, the fresh one survives
    got = {r["url"] for r in out.collect()}
    assert fresh in got
    assert not (got & set(crawled))

    plan = out._jdf.queryExecution().executedPlan().toString()
    join_lines = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert join_lines, plan
    for line in join_lines:
        assert "url_hash" in line, line
        stripped = line.replace("url_hash2", "").replace("url_hash", "")
        assert "url#" not in stripped, line  # no string key in the join
    # the seen scan carries a partition filter on shard
    assert re.search(r"PartitionFilters: \[[^\]]*shard", plan), plan
    cache.unpersist()


def test_resume_across_compaction_boundary(spark, corpus_path, tmp_path):
    """Verdict r02 item 8: crawl state compacts the seen tail every K
    iterations; a crash + resume across a compaction boundary reproduces
    the uncompacted crawl exactly, and the per-iteration seen read list
    stays bounded by K+1."""
    seeds = _seeds()
    sdf = spark.createDataFrame([(s, "") for s in seeds], "seed string, site string")

    ref = _mk_engine(spark, corpus_path, tmp_path / "ref", compact_seen_every=0)
    ref.init_from_seeds(sdf)
    ref.run(max_iters=4)

    comp = _mk_engine(spark, corpus_path, tmp_path / "comp", compact_seen_every=2)
    comp.init_from_seeds(sdf)
    comp.run(max_iters=2)
    resumed = _mk_engine(spark, corpus_path, tmp_path / "comp", compact_seen_every=2)
    resumed.run(max_iters=2)

    assert _visit_sets(ref) == _visit_sets(resumed)
    ck = resumed.last_checkpoint()
    assert ck["seen_compact"] is not None
    assert len(resumed._seen_dirs(ck["iter"], ck["seen_compact"])) <= 3
    a = {r["url"] for r in ref.seen_df(ck["iter"]).collect()}
    b = {r["url"] for r in resumed.seen_df(ck["iter"], ck["seen_compact"]).collect()}
    assert a == b


def test_frontier_lsm_bounded_and_resume(spark, corpus_path, tmp_path):
    """Round-3 LSM frontier: per-iteration writes are the O(Δ) delta (new
    + retries) and O(admitted) tombstones, never a full rewrite; the
    pending view folds into a fresh base every K iterations so reads stay
    ≤ K+1 dirs; a crash + resume across the compaction boundary
    reproduces the uncompacted crawl exactly; and the per-shard pending
    counts carried in the checkpoint match the materialized view."""
    seeds = _seeds()
    sdf = spark.createDataFrame([(s, "") for s in seeds], "seed string, site string")

    ref = _mk_engine(spark, corpus_path, tmp_path / "ref",
                     compact_frontier_every=0)
    ref.init_from_seeds(sdf)
    ref.run(max_iters=4)

    comp = _mk_engine(spark, corpus_path, tmp_path / "comp",
                      compact_frontier_every=2)
    comp.init_from_seeds(sdf)
    comp.run(max_iters=2)
    resumed = _mk_engine(spark, corpus_path, tmp_path / "comp",
                         compact_frontier_every=2)
    resumed.run(max_iters=2)

    assert _visit_sets(ref) == _visit_sets(resumed)
    ck = resumed.last_checkpoint()
    assert ck["frontier_base"]["upto"] > 0  # compaction fired
    _, deltas, tombs = resumed._frontier_dirs(ck["iter"], ck["frontier_base"])
    assert len(deltas) <= 2 and len(tombs) <= 2
    view = resumed.frontier_view(ck["iter"], ck["frontier_base"])
    assert view.count() == sum(ck["frontier_shards"].values())
    # pending row-version sets identical with and without compaction
    rck = ref.last_checkpoint()
    a = {(r["url"], r["retry_count"])
         for r in ref.frontier_view(rck["iter"], rck["frontier_base"]).collect()}
    b = {(r["url"], r["retry_count"]) for r in view.collect()}
    assert a == b


def test_frontier_lsm_gate_crossing(spark, corpus_path, tmp_path):
    """Round-3 LSM gate: below lsm_min_frontier pending rows the engine
    folds (pending − admitted) ∪ delta into a fresh base directly (no
    tombstones, single-dir view); once pending crosses the gate it
    switches to the delta/tombstone log. Visit sets and the final pending
    row-version set are identical on every side of the gate."""
    seeds = _seeds()
    sdf = spark.createDataFrame([(s, "") for s in seeds], "seed string, site string")

    engines = {}
    for name, thresh in (("lsm", 0), ("fold", 10**9), ("cross", 60)):
        e = _mk_engine(spark, corpus_path, tmp_path / name,
                       lsm_min_frontier=thresh)
        e.init_from_seeds(sdf)
        e.run(max_iters=4)
        engines[name] = e

    # the crossing engine really crossed: early iterations fold (base
    # advances), later ones append logs (base stays behind iter)
    ck = engines["cross"].last_checkpoint()
    assert ck["frontier_base"]["upto"] > 0
    assert ck["frontier_base"]["upto"] < ck["iter"]
    # the always-fold engine never wrote a log dir
    ck_f = engines["fold"].last_checkpoint()
    assert ck_f["frontier_base"]["upto"] == ck_f["iter"]

    base = _visit_sets(engines["lsm"])
    for name in ("fold", "cross"):
        assert _visit_sets(engines[name]) == base, name
    pend = {
        name: {
            (r["url"], r["retry_count"])
            for r in e.frontier_view(
                e.last_checkpoint()["iter"],
                e.last_checkpoint()["frontier_base"],
            ).collect()
        }
        for name, e in engines.items()
    }
    assert pend["lsm"] == pend["fold"] == pend["cross"]


def _bloom_shards(ck) -> dict:
    """{shard id: [layer meta, …]} of the checkpoint's bloom manifest."""
    with open(ck["bloom_manifest"]) as f:
        return json.load(f)["shards"]


def test_bloom_size_gate_crossing(spark, corpus_path, tmp_path):
    """Round-3 bloom gate: below bloom_min_seen total seen rows the engine
    skips the prefilter UDF and all shard maintenance (the exact hash
    anti-join alone is cheaper at that size); the first iteration at or
    past the threshold builds every shard from the exact seen set; and the
    crawl's visit sets are identical either side of the gate."""
    seeds = _seeds()
    sdf = spark.createDataFrame([(s, "") for s in seeds], "seed string, site string")

    gated = _mk_engine(spark, corpus_path, tmp_path / "gated", bloom_min_seen=30)
    gated.init_from_seeds(sdf)
    assert gated.last_checkpoint()["bloom_manifest"] is None  # seeds < gate
    gated.run(max_iters=3)
    ck = gated.last_checkpoint()
    assert ck["seen_total"] >= 30
    assert ck["bloom_manifest"] is not None  # built once at the crossing
    # every seen row is in exactly one layer of its shard
    layers = [layer for ls in _bloom_shards(ck).values() for layer in ls]
    assert sum(layer["n_items"] for layer in layers) == ck["seen_total"]

    ref = _mk_engine(spark, corpus_path, tmp_path / "ref")
    ref.init_from_seeds(sdf)
    ref.run(max_iters=3)
    assert _visit_sets(ref) == _visit_sets(gated)


def test_bloom_layer_growth(spark, corpus_path, tmp_path):
    """A shard that outgrows its first layer (sized by
    bloom_expected_per_shard) grows by layers through the O(new) merge
    alone — no layer ever holds more than its cap — and the crawl stays
    exact throughout (bloom FPs only ever fall through to the exact
    anti-join)."""
    seeds = _seeds()
    engine = _mk_engine(
        spark, corpus_path, tmp_path, bloom_expected_per_shard=16
    )
    engine.init_from_seeds(
        spark.createDataFrame([(s, "") for s in seeds], "seed string, site string")
    )
    engine.run(max_iters=3)
    ck = engine.last_checkpoint()
    shards = _bloom_shards(ck)
    assert max(len(ls) for ls in shards.values()) >= 2
    layers = [layer for ls in shards.values() for layer in ls]
    assert all(layer["n_items"] <= layer["cap"] for layer in layers)
    assert sum(layer["n_items"] for layer in layers) == ck["seen_total"]

    sim = FrontierSimulator(N_URLS, _rules(), per_host_budget=3)
    sim.init_from_seeds(seeds)
    sim.run(max_iters=3)
    sim_visits: dict[int, set] = {}
    for it, url in sim.state.visit_order:
        sim_visits.setdefault(it, set()).add(url)
    assert _visit_sets(engine) == sim_visits


def test_bloom_layer_fp_rate(spark, tmp_path):
    """Each layer i of a scalable shard holds its nominal false-positive
    rate fpp / 2**i, so the shard's compound rate stays within 2·fpp, and
    no inserted hash is ever reported new. Past the 16-probe cap (from
    layer 4 at fpp=1e-4) the layers are checked too."""
    rng = np.random.default_rng(9)
    fpp = 0.01
    manifest, inserted = None, []
    for v, n in enumerate((1000, 2000, 4000, 8000)):
        batch = [int(h) for h in rng.integers(-2**63, 2**63 - 1, n, dtype=np.int64)]
        inserted += batch
        df = spark.createDataFrame(
            [(h, 7) for h in batch], "url_hash long, host_hash long"
        )
        manifest = bloom.merge_shards(
            df, manifest, str(tmp_path / f"v{v}"), n_shards=4, fpp=fpp,
            expected_per_shard=1000,
        )
    with open(manifest) as f:
        layers = json.load(f)["shards"][str(7 % 4)]
    assert [layer["n_items"] for layer in layers] == [1000, 2000, 4000, 8000]

    tagged = bloom.prefilter(
        spark.createDataFrame([(h, 7) for h in inserted],
                              "url_hash long, host_hash long"),
        manifest,
    )
    assert tagged.filter(~F.col("maybe_seen")).count() == 0

    probe = rng.integers(-2**63, 2**63 - 1, 400_000, dtype=np.int64).view(np.uint64)
    probe = probe[~np.isin(probe, np.array(inserted, dtype=np.int64).view(np.uint64))]
    any_hit = np.zeros(len(probe), dtype=bool)
    for i, layer in enumerate(layers):
        bits = np.load(layer["path"], allow_pickle=False)
        pos = bloom._positions(probe, layer["m_bits"], layer["k_hashes"])
        hit = bloom._test_bits(bits, pos)
        assert hit.mean() <= 1.25 * fpp / 2**i, (i, hit.mean())
        any_hit |= hit
    assert any_hit.mean() <= 2 * fpp

    # at fpp=1e-4 a layer's rate is too small to probe for; a filled
    # layer's rate is fill**k (every probe bit set), measured off its bits
    fpp, n = 1e-4, 20_000
    for i in range(13):
        m, k = bloom._params(n, fpp / 2**i)
        assert k <= 16
        bits = np.zeros(m >> 6, dtype=np.uint64)
        hashes = rng.integers(-2**63, 2**63 - 1, n, dtype=np.int64).view(np.uint64)
        bloom._set_bits(bits, bloom._positions(hashes, m, k))
        fill = sum(bin(int(w)).count("1") for w in bits) / m
        assert fill**k <= 1.1 * fpp / 2**i, (i, k, fill**k)


def test_py_normalize_url_parity(spark):
    """py_normalize_url (the fetch-worker replica the fused pass uses to
    emit pre-normalized links) must be byte-identical to the Column
    normalize_url over every URL shape the href scanner can produce:
    case, ports, fragments, trailing '?', userinfo-ish hosts, and the
    urljoin outputs of the resolve parity matrix."""
    from urllib.parse import urljoin

    urls = [
        "http://A.Com/x/y.html", "http://a.com:80/x", "http://a.com:80",
        "https://a.com:443/x?q=1", "http://a.com:8080/x",
        "https://a.com:80/x", "HTTP://UP.Example.COM/Path/File.HTML",
        "http://a.com/x?", "http://a.com/x??", "http://a.com/x?#f",
        "http://a.com/x#f#g", "http://a.com/#", "http://a.com",
        "http://a.com/", "https://B.com/p?Q=Mixed#Frag",
        "http://h:80x/y", "http://a.com:443/x", "ftp://weird/scheme",
        "no-scheme/rel.html", "http://a.com/%7Euser/page.html?a=1&b=2",
    ]
    srcs = ["http://a.com/x/y.html", "https://b.com:443/p/q/r?z=1#m"]
    hrefs = ["z.html", "../z.html", "//c.com/d", "http://C.com:80/e",
             "?q=2", "#frag", "", "..", "./"]
    urls += [urljoin(s, h) for s in srcs for h in hrefs]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r["got"] for r in df.select(normalize_url("url").alias("got")).collect()]
    for u, expected in zip(urls, got):
        assert py_normalize_url(u) == expected, (u, py_normalize_url(u), expected)


def test_resume_through_memory_checkpoint_store(spark, corpus_path, tmp_path):
    """The checkpoint-commit seam (statelog.py): a crawl committed through
    a NON-filesystem store must resume identically — proving the engine's
    resume path runs entirely through store.last()/store.commit() and the
    committed pointer carries everything resume needs (the property the
    Iceberg snapshot-commit adapter relies on)."""
    from dmp_crawler_spark.frontier.statelog import MemoryCheckpointStore

    seeds = _seeds()
    sdf = spark.createDataFrame([(s, "") for s in seeds], "seed string, site string")

    full = _mk_engine(spark, corpus_path, tmp_path / "full")
    full.init_from_seeds(sdf)
    full.run(max_iters=3)

    store = MemoryCheckpointStore()
    part = _mk_engine(spark, corpus_path, tmp_path / "mem",
                      checkpoint_store=store)
    part.init_from_seeds(sdf)
    part.run(max_iters=2)
    assert len(store.commits) >= 3  # init + 2 iterations, all via the seam
    assert not os.path.exists(str(tmp_path / "mem" / "checkpoints")) or not [
        n for n in os.listdir(str(tmp_path / "mem" / "checkpoints"))
        if n.startswith("ckpt_")
    ]  # nothing bypassed the store and wrote JSON checkpoints

    resumed = _mk_engine(spark, corpus_path, tmp_path / "mem",
                         checkpoint_store=store)
    resumed.run(max_iters=1)
    assert _visit_sets(full) == _visit_sets(resumed)


def test_iceberg_store_diagnoses_missing_catalog(spark):
    """Without an Iceberg catalog configured the adapter must fail at
    construction with an actionable message, not at first commit."""
    import pytest

    from dmp_crawler_spark.frontier.statelog import IcebergCheckpointStore

    with pytest.raises(RuntimeError, match="spark.sql.catalog.crawl"):
        IcebergCheckpointStore(spark)


def _seeds_with_miss(spark):
    return spark.createDataFrame([(s, "") for s in _seeds() + [BOGUS]],
                                 "seed string, site string")


def test_step_counts_match_recounts(spark, corpus_path, tmp_path):
    """The per-shard counts a step writes to metrics/iter=k come from work
    the step already did (one admitted aggregate, parquet footers, the
    spill's miss slice), not from count jobs. On a crawl that folds and
    appends the frontier, appends and compacts the seen set, and retries
    a missing URL, every iteration's n_admitted, n_new and n_frontier
    equal direct recounts of the pending view, the seen set and the
    crawl log."""
    import pyarrow.parquet as pq

    engine = _mk_engine(spark, corpus_path, tmp_path, max_retries=2,
                        compact_frontier_every=2, compact_seen_every=2)
    engine.init_from_seeds(_seeds_with_miss(spark))
    assert len(engine.run(max_iters=4)) == 4
    # the bogus seed missed at iteration 1 and was requeued as a retry
    assert engine.frontier_df(1).filter(
        (F.col("url") == BOGUS) & (F.col("retry_count") == 1)).count() == 1

    def shard_of(df):
        return df.withColumn("shard", F.pmod("host_hash", F.lit(8)).cast("int"))

    def by_shard(df) -> dict:
        return {r["shard"]: r["n"]
                for r in shard_of(df).groupBy("shard")
                .agg(F.count(F.lit(1)).alias("n")).collect()}

    last = engine.last_checkpoint()
    seen = engine.seen_df(last["iter"], last["seen_compact"])
    crawled = engine.crawled_df()
    kinds = {"fold": set(), "log": set(), "seen_compact": set(), "seen_append": set()}
    for k in range(1, 5):
        with open(engine._ckpt_path(k)) as f:
            ck = json.load(f)
        kinds["fold" if ck["frontier_base"]["upto"] == k else "log"].add(k)
        sc = ck["seen_compact"]
        kinds["seen_compact" if sc and sc["upto"] == k else "seen_append"].add(k)

        got = {r["shard"]: r for r in pq.read_table(
            str(tmp_path / "metrics" / f"iter={k:06d}")).to_pylist()}

        def col(name):
            return {s: r[name] for s, r in got.items() if r[name]}

        before = engine.frontier_df(k - 1)
        after = engine.frontier_df(k)
        admitted = before.join(after, ["url", "retry_count"], "left_anti")
        assert col("n_admitted") == by_shard(admitted), k
        # every crawled URL of iteration k was admitted at k
        assert crawled.filter(F.col("crawl_iter") == k).join(
            admitted, "url", "left_anti").count() == 0
        assert col("n_new") == by_shard(seen.filter(F.col("scheduled_iter") == k)), k
        assert col("n_frontier") == by_shard(after), k
        assert sum(ck["frontier_shards"].values()) == after.count(), k
        assert ck["metrics"]["new_urls"] == sum(col("n_new").values())
        assert ck["metrics"]["fetched"] == crawled.filter(
            F.col("crawl_iter") == k).count()
    # the crawl covered every write shape the counts derive from
    assert all(kinds.values()), kinds
    assert last["seen_total"] == seen.count()


# crash matrix: iteration 2 of this crawl compacts both the frontier (a
# fold) and the seen set (seen(1) ∪ new in one write)
CRASH_KW = dict(compact_frontier_every=2, compact_seen_every=1)
CRASH_GATES = {
    "gates_at_0": dict(bloom_min_seen=0, lsm_min_frontier=0,
                       shard_prune_min_seen=0),
    "default_gates": {
        k: inspect.signature(CrawlEngine).parameters[k].default
        for k in ("bloom_min_seen", "lsm_min_frontier", "shard_prune_min_seen")
    },
}
# the parquet writes iteration 2 makes: combined spill (the bogus seed's
# terminal miss included), frontier fold, seen compaction
CRASH_WRITES = 3


class _Crash(Exception):
    pass


def _crawl_state(engine) -> dict:
    """What a resumed crawl must reproduce exactly."""
    ck = engine.last_checkpoint()
    return {
        "iter": ck["iter"],
        "visits": _visit_sets(engine),
        "seen": {r["url"] for r in engine.seen_df(
            ck["iter"], ck["seen_compact"]).select("url").collect()},
        "pending": {(r["url"], r["retry_count"]) for r in engine.frontier_view(
            ck["iter"], ck["frontier_base"]).collect()},
        "seen_total": ck["seen_total"],
        "frontier_shards": ck["frontier_shards"],
    }


def _group_jobs(spark, k: int) -> dict:
    """{phase: job ids} of the job groups iter=k:<phase>, polled until the
    status store (fed asynchronously by the listener bus) stops changing."""
    import time

    tracker = spark.sparkContext.statusTracker()
    phases = ("admit", "fetch_extract_results", "failed_write",
              "frontier_write", "seen_write", "bloom_build", "bloom_merge",
              "metrics_counts")
    prev = None
    while True:
        cur = {p: set(tracker.getJobIdsForGroup(f"iter={k}:{p}")) for p in phases}
        if cur == prev:
            return cur
        prev = cur
        time.sleep(1.0)


@pytest.fixture(scope="module", params=sorted(CRASH_GATES))
def crash_ref(request, spark, corpus_path, tmp_path_factory):
    """One uninterrupted 4-iteration crawl per gate setting, shared by the
    crash cases; also records iteration 2's jobs per phase group."""
    gates = CRASH_GATES[request.param]
    engine = _mk_engine(spark, corpus_path,
                        tmp_path_factory.mktemp(f"crash_ref_{request.param}"),
                        **gates, **CRASH_KW)
    engine.init_from_seeds(_seeds_with_miss(spark))
    engine.run(max_iters=1)
    # other crawls in the session run iterations with the same group ids
    before = _group_jobs(spark, 2)
    engine.step()
    jobs = {p: len(ids - before[p]) for p, ids in _group_jobs(spark, 2).items()}
    jobs = {p: n for p, n in jobs.items() if n}
    engine.run(max_iters=2)
    return request.param, _crawl_state(engine), jobs


def test_crash_resume_matrix(spark, corpus_path, tmp_path, crash_ref, monkeypatch):
    """Crash-idempotence at every write boundary of a compaction iteration.
    Iteration 2 is crashed after its 1st, 2nd, … parquet write and then at
    _commit; each attempt is a fresh engine on the same state dir, so every
    later attempt reruns iteration 2 over the orphans the earlier ones
    left (what a crash-looping driver produces). A fresh engine then
    resumes to iteration 4, and the crawl must equal the uninterrupted
    one: visit sets, seen set, pending row versions, seen_total and the
    per-shard pending counts. Between the crashes, the crawl log and the
    results show iteration 1 only: the orphans never do.

    With gates at 0 the last attempt also cuts a bloom merge short: it
    crashes at _commit after merge_shards wrote iteration 2's layer files
    and manifest, and then some layer files are lost and one is truncated
    (layer files are written in place by the workers; the checkpoint, not
    the manifest, is what makes them live)."""
    from pyspark.sql.readwriter import DataFrameWriter

    name, ref, _ = crash_ref
    kw = {**CRASH_GATES[name], **CRASH_KW}
    engine = _mk_engine(spark, corpus_path, tmp_path, **kw)
    engine.init_from_seeds(_seeds_with_miss(spark))
    engine.run(max_iters=1)

    def reads(e):
        return _visit_sets(e), sorted(tuple(r) for r in e.results_df().select(
            "url", "rowkey", "family").collect())

    committed = reads(engine)
    assert list(committed[0]) == [1] and committed[1]

    real_parquet = DataFrameWriter.parquet
    crashes = []
    n = 0
    while not crashes or crashes[-1] != "commit":
        n += 1
        calls = [0]

        def parquet(self, *a, _n=n, _calls=calls, **k):
            real_parquet(self, *a, **k)
            _calls[0] += 1
            if _calls[0] == _n:
                raise _Crash(f"write {_n}")

        def commit(ck):
            raise _Crash("commit")

        attempt = _mk_engine(spark, corpus_path, tmp_path, **kw)
        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "parquet", parquet)
            m.setattr(attempt, "_commit", commit)
            with pytest.raises(_Crash) as crash:
                attempt.step()
        crashes.append(str(crash.value))
        # a crashed process takes its cached blocks with it
        spark.catalog.clearCache()
        assert attempt.last_checkpoint()["iter"] == 1
        assert reads(attempt) == committed, crashes[-1]
    assert crashes == [f"write {i}" for i in range(1, CRASH_WRITES + 1)] + ["commit"]

    if name == "gates_at_0":
        bdir = tmp_path / "bloom" / "v000002"
        assert (bdir / "manifest.json").exists()
        layers = sorted(bdir.glob("*.npy"))
        assert len(layers) >= 3, layers
        for f in layers[::2]:
            f.unlink()
        with open(layers[1], "r+b") as f:
            f.truncate(layers[1].stat().st_size // 2)

    resumed = _mk_engine(spark, corpus_path, tmp_path, **kw)
    resumed.run(max_iters=3)
    assert _crawl_state(resumed) == ref


# jobs iteration 2 of the crash-matrix crawl runs per gate setting, and
# what it ran while the step counted rows with count jobs and compacted
# by re-reading its own appends (it also wrote a crawled/ copy of its
# pages, found its misses by an anti-join and wrote a failed/ log then:
# 4 jobs more)
STEP_JOBS = {"gates_at_0": 21, "default_gates": 14}
COUNT_JOB_STEP_JOBS = {"gates_at_0": 31, "default_gates": 24}


def test_step_job_groups(crash_ref):
    """Each phase's Spark jobs run under the job group iter=k:<phase>. On
    a compaction iteration the metrics phase runs no job at all (the
    counts come from work the step already did) and the iteration's job
    count is pinned below what it was before."""
    name, _, jobs = crash_ref
    assert "metrics_counts" not in jobs, jobs
    assert {"admit", "fetch_extract_results", "frontier_write",
            "seen_write"} <= set(jobs), jobs
    assert sum(jobs.values()) == STEP_JOBS[name] < COUNT_JOB_STEP_JOBS[name], jobs


class _DroppingFetcher(CorpusFetcher):
    """Loses the bogus seed's miss row, or lands one page twice."""

    def __init__(self, spark, path, dup: bool):
        super().__init__(spark, path)
        self.dup = dup

    def fetch_extract(self, admitted):
        out = super().fetch_extract(admitted)
        if self.dup:
            return out.unionByName(out.filter(F.col("kind") == "page").limit(1))
        return out.filter(F.col("url") != BOGUS)


def test_step_raises_unless_one_record_per_fetch(spark, corpus_path, tmp_path):
    """A fetcher must emit exactly one page or miss row per admitted URL:
    a dropped row would be retried silently and a duplicated page crawled
    twice, so the step raises before it commits."""
    _mk_engine(spark, corpus_path, tmp_path).init_from_seeds(
        _seeds_with_miss(spark))
    for dup in (False, True):
        engine = _mk_engine(spark, corpus_path, tmp_path)
        engine.fetcher = _DroppingFetcher(spark, corpus_path, dup)
        with pytest.raises(RuntimeError, match="admitted URLs"):
            engine.step()
        assert engine.last_checkpoint()["iter"] == 0
    engine = _mk_engine(spark, corpus_path, tmp_path)
    m = engine.step()
    assert m["fetched"] + m["failed"] == m["admitted"] and m["failed"] > 0
