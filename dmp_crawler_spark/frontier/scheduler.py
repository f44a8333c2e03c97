"""The crawl loop: frontier → admit → fetch → extract → discover → dedup → frontier'.

This is the Spark rewrite of crawler4j's controller loop
(…/main/CrawlerManager.java:53-108 + the crawler4j library semantics the
reference configures): BFS frontier with URL-seen dedup at schedule time,
per-host politeness, global page budget, resumable state.

Design for 10^10 URLs (the north rule):
  - every stage is a DataFrame op partitioned by host (admit window,
    politeness) or url (fetch join, seen anti-join); no driver-side loops
    over rows, only over *iterations*;
  - URL-seen = append-only `seen` parquet partitions + per-shard bloom
    files (frontier/bloom.py) so the anti-join input shrinks map-side;
  - the pending frontier is an LSM log past `lsm_min_frontier`: each
    iteration appends an O(Δ) delta + O(admitted) tombstones and the view
    is base ∪ deltas − tombstones (broadcast anti-join), folded into a
    fresh base every `compact_frontier_every` iterations — the loop never
    rewrites (or counts) the O(frontier) pending set; below the gate the
    direct fold is the cheaper plan and the engine picks per-iteration;
  - checkpointed per-partition lineage: each iteration commits a JSON
    checkpoint naming the frontier snapshot, the seen partitions, and the
    bloom shard manifest (per-shard files = per-partition state) — crash
    at any point resumes from the last committed checkpoint, exactly
    (Q4, …/main/CrawlerManager.java:83-84's setResumableCrawling);
  - ordering is fully deterministic: the priority key is
    (depth, discovery_iter, score desc, url) where discovery_iter is the
    iteration counter, never wall-clock — parity with the single-process
    simulator (frontier/simulator.py) is testable.

At production scale the parquet state dirs become Iceberg tables (append
= snapshot commit, frontier rewrite = MERGE); the layout below keeps the
same commit semantics on a plain filesystem. The commit point itself is a
pluggable seam (frontier/statelog.py): the default JsonCheckpointStore's
atomic rename is replaced by IcebergCheckpointStore's snapshot commit on
a real catalog — the engine path is identical either way.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dmp_crawler_spark.extractors.udfs import _decode, fetch_extract_pass
from dmp_crawler_spark.frontier import (
    bloom,
    politeness,
    robots as robots_mod,
    statelog,
)
from dmp_crawler_spark.frontier.urlnorm import normalize_url, with_url_cols
from dmp_crawler_spark.functions.strings import expand_seed_template

# F1 extension blacklist (shouldVisit, …/crawler/auto/Crawler4Autohome.java:53-54)
EXT_BLACKLIST = r"(?i)\.(css|js|bmp|gif|jpe?g|png|tiff?|mid|mp2|mp3|mp4|wav|avi|mov|mpeg|ram|m4v|pdf|rm|smil|wmv|swf|wma|zip|rar|gz|ico)$"

FRONTIER_COLS = [
    "url", "host", "host_hash", "depth", "discovery_iter", "score", "retry_count",
]

# explicit schema for every frontier base and delta read: an iteration
# that discovers nothing writes an empty dir (no footers to infer from),
# and inferring from footers costs a Spark job per read
FRONTIER_SCHEMA = (
    "url string, host string, host_hash long, depth int, "
    "discovery_iter int, score double, retry_count int"
)

# tombstones: the exact row VERSION admitted this iteration — 128-bit url
# fingerprint + retry_count (a requeued retry is a different version, so
# it survives the anti-join that removes its admitted predecessor)
TOMB_SCHEMA = "url_hash long, url_hash2 long, retry_count int"

# explicit schema for seen-dir reads: an iteration that discovers no new
# URLs writes an empty partitioned dir (no parquet footers), which would
# otherwise fail schema inference
SEEN_SCHEMA = (
    "url string, url_hash long, url_hash2 long, host_hash long, "
    "scheduled_iter int, shard int"
)

# results_df's read of the combined/iter=*/kind=* spill (iter and kind are
# directory partitions)
RESULTS_SCHEMA = (
    "url string, rowkey string, family string, cols map<string,string>, "
    "kind string, iter int"
)


class EnrichmentSpec:
    """J4 as a crawl stage: per-entity secondary API fetch merged into the
    extraction row — the Crawler4Jingdong shape (price/comment JSONP calls
    keyed by the productNO pulled in pass 1,
    …/crawler/ec/Crawler4Jingdong.java:304-331,409-515).

    family        result family whose rows carry the entity id
    id_key        cols-map key holding the id extracted in pass 1
    url_template  '%s' template building the secondary fetch URL (C18)
    fetcher       callable DataFrame[ent_id, url] -> DataFrame[ent_id, payload]
                  (the reference's AjaxClient; tests use a payload-table join)
    parse         {out_col: fn(payload Column) -> Column} — the JSONP/JSON
                  field extraction, declarative so it stays JVM-side.
                  Out-col names must not collide with pass-1 cols keys.
    """

    def __init__(self, family: str, id_key: str, url_template: str,
                 fetcher, parse: dict):
        self.family = family
        self.id_key = id_key
        self.url_template = url_template
        self.fetcher = fetcher
        self.parse = parse


class CorpusFetcher:
    """Simulated HTTP: the 'web' is the pages corpus table.
    fetch_extract(admitted) inner-joins it on url and runs the shared
    fetch+extract pass over the joined html; an admitted URL with no page
    row is a fetch failure (S3 retry path). In production the join is
    replaced by an HTTP GET inside page_of — same output contract."""

    def __init__(self, spark: SparkSession, pages_path: str):
        self.pages = spark.read.parquet(pages_path).select(
            "url", "html", "lang", "text"
        )

    def fetch_extract(self, admitted: DataFrame) -> DataFrame:
        return fetch_extract_pass(
            admitted.join(self.pages, "url"),
            admitted.columns,
            lambda row: (_decode(row["html"]), row["lang"], row["text"]),
        )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        fetcher,
        site_rules: DataFrame,
        robots: DataFrame | None = None,
        respect_robots: bool = False,
        per_host_budget: int = 4,
        global_budget: int | None = None,
        max_retries: int = 3,
        n_bloom_shards: int = 16,
        bloom_expected_per_shard: int = 1 << 16,
        enrichment: EnrichmentSpec | None = None,
        compact_seen_every: int = 8,
        compact_frontier_every: int = 8,
        shard_prune_min_seen: int = 5_000_000,
        bloom_min_seen: int = 1_000_000,
        lsm_min_frontier: int = 10_000_000,
        checkpoint_store=None,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.fetcher = fetcher
        self.site_rules = site_rules
        self._rule_rows: list | None = None  # compiled (regex, score) chain
        self.robots = robots
        self.respect_robots = respect_robots
        self.per_host_budget = per_host_budget
        self.global_budget = global_budget
        self.max_retries = max_retries
        self.n_bloom_shards = n_bloom_shards
        self.bloom_expected_per_shard = bloom_expected_per_shard
        # fold the per-iteration seen tail into one shard-partitioned
        # baseline every N iterations so the anti-join plan reads a bounded
        # dir list (≤ N+1) instead of one dir per iteration ever crawled;
        # 0 disables compaction
        self.compact_seen_every = compact_seen_every
        # the frontier is maintained LSM-style for the same reason: one
        # O(frontier)-row rewrite per iteration is the single biggest
        # write at 10^10 URLs. Each iteration appends an O(Δ) delta dir
        # (new discoveries + requeued retries) and an O(admitted)
        # tombstone dir; the pending view is base ∪ deltas − tombstones
        # (broadcast anti-join on the 128-bit row-version key — map-side,
        # the big side never shuffles). Every N iterations the view is
        # folded into a new base, so reads stay bounded at N+1 dirs and
        # the full-frontier write cost is amortized to O(frontier/N).
        self.compact_frontier_every = compact_frontier_every
        # LSM only pays once the pending set dwarfs the per-iteration
        # delta AND the O(pending) fold write outweighs the log's fixed
        # overhead (~3 s/iteration of view anti-join + log jobs on this
        # box). Measured fold-write slope is ~0.1 s per million pending
        # rows here (both probes: BENCH/BASELINE.md §2d), putting the local
        # crossover at tens of millions of rows; on replicated DFS the
        # per-row write cost is several × higher, so the default sits
        # below the local crossover. Below the gate the engine folds
        # (pending − admitted) ∪ delta into a fresh base directly. Same
        # gate philosophy as bloom_min_seen: don't pay scale machinery
        # for state you don't have yet. Semantics are identical either
        # side (gate-crossing equivalence is pytest-asserted).
        self.lsm_min_frontier = lsm_min_frontier
        # shard-prune the seen side of the J1 anti-join only once the seen
        # set is big enough that skipping shards beats the one extra tiny
        # job that computes the candidate shard list (measured: the
        # collect costs ~0.5-1.5 s/iteration; below ~5M seen rows the full
        # 16 B/row hash scan is cheaper than that)
        self.shard_prune_min_seen = shard_prune_min_seen
        # the bloom prefilter is itself gated by size: below bloom_min_seen
        # total seen rows the exact 16 B/row hash anti-join is cheaper than
        # the Arrow round trip of the prefilter UDF plus the per-iteration
        # shard merge (measured at the bench's ~100k-seen scale: ~1 s/iter
        # prefilter + ~0.3 s/iter merge vs ~0.3 s/iter exact join). Once
        # seen_total crosses the threshold the shards are built ONCE from
        # the exact seen set; from then on every iteration only merges its
        # new rows (O(new)/iter), each shard growing by layers sized from
        # bloom_expected_per_shard — the steady-state 10^10-URL plan is
        # unchanged.
        self.bloom_min_seen = bloom_min_seen
        # one or several enrichment stages (the reference's Jingdong page
        # does BOTH a price and a comment-count API call per product —
        # Crawler4Jingdong.java:304-334); stages apply in order
        if enrichment is None:
            self.enrichment = []
        elif isinstance(enrichment, EnrichmentSpec):
            self.enrichment = [enrichment]
        else:
            self.enrichment = list(enrichment)
        # checkpoint-commit seam (frontier/statelog.py): the store owns
        # the ONE atomic pointer swap per iteration; on an Iceberg catalog
        # IcebergCheckpointStore makes it a snapshot commit instead of an
        # os.replace() — the engine code path is identical either way
        self.checkpoint_store = checkpoint_store or statelog.JsonCheckpointStore(
            state_dir
        )

    # ---------------- state paths -------------------------------------
    def _p(self, *parts: str) -> str:
        return os.path.join(self.state_dir, *parts)

    def _ckpt_path(self, k: int) -> str:
        return self._p("checkpoints", f"ckpt_{k:06d}.json")

    def last_checkpoint(self) -> dict | None:
        return self.checkpoint_store.last()

    def _commit(self, ck: dict) -> None:
        """Atomic commit point: state written first, ONE pointer swap last
        (delegated to the checkpoint store — see statelog.py for the
        Iceberg snapshot-commit mapping)."""
        self.checkpoint_store.commit(ck)

    def _frontier_dirs(
        self, k: int, base: dict | None
    ) -> tuple[str | None, list[str], list[str]]:
        """(base path, delta dirs, tombstone dirs) making up the pending
        frontier at iteration k. Bounded by compact_frontier_every + 1 —
        the per-iteration plan never grows with crawl age."""
        base_path = None
        start = 1
        if base:
            base_path = base["path"]
            start = base["upto"] + 1
        deltas, tombs = [], []
        for i in range(start, k + 1):
            d = self._p("frontier", f"log_v{i:06d}", "kind=add")
            t = self._p("frontier", f"log_v{i:06d}", "kind=tomb")
            if os.path.exists(d):
                deltas.append(d)
            if os.path.exists(t):
                tombs.append(t)
        return base_path, deltas, tombs

    def frontier_view(self, k: int, base: dict | None) -> DataFrame:
        """Pending frontier at iteration k: compaction base ∪ per-iteration
        deltas, minus the tombstoned (admitted) row versions. The
        tombstone set is ≤ compact_frontier_every × per-iteration
        admissions — small enough to broadcast, so the anti-join is
        map-side and the O(frontier) big side never shuffles."""
        base_path, deltas, tombs = self._frontier_dirs(k, base)
        parts = [
            self.spark.read.schema(FRONTIER_SCHEMA).parquet(d)
            for d in ([base_path] if base_path else []) + deltas
        ]
        fr = parts[0]
        for p in parts[1:]:
            fr = fr.unionByName(p)
        if tombs:
            tomb = self.spark.read.schema(TOMB_SCHEMA).parquet(*tombs)
            # broadcast only while the tombstone files are actually small
            # (they are 20 B/row; compaction bounds them at
            # compact_frontier_every × admissions). Past the cap, fall
            # back to a plain anti-join and let AQE pick the strategy —
            # force-broadcasting a multi-GB set would OOM the driver.
            on_disk = sum(
                os.path.getsize(os.path.join(root, f))
                for t in tombs
                for root, _, files in os.walk(t)
                for f in files
            )
            if on_disk < 64 << 20:
                tomb = F.broadcast(tomb)
            fr = (
                fr.withColumn("url_hash", F.xxhash64("url"))
                .withColumn("url_hash2", F.xxhash64("url", F.lit(1)))
                .join(
                    tomb,
                    ["url_hash", "url_hash2", "retry_count"],
                    "left_anti",
                )
                .drop("url_hash", "url_hash2")
            )
        return fr

    def frontier_df(self, k: int) -> DataFrame:
        """Frontier view as of the checkpoint at iteration k (tools/tests;
        reads the per-iteration JSON file, so it assumes the default
        JsonCheckpointStore — non-filesystem stores use last_checkpoint)."""
        with open(self._ckpt_path(k)) as f:
            ck = json.load(f)
        return self.frontier_view(k, ck.get("frontier_base"))

    def _seen_dirs(self, upto_iter: int, compact: dict | None = None) -> list[str]:
        """Directories making up the seen set through upto_iter: the last
        compaction baseline (if any) plus the per-iteration tail written
        since it. Bounded by compact_seen_every + 1 — the per-iteration
        plan never grows with crawl age (round-2 verdict item 8)."""
        start = 0
        dirs: list[str] = []
        if compact:
            dirs.append(compact["path"])
            start = compact["upto"] + 1
        dirs += [
            self._p("seen", f"iter={i:06d}")
            for i in range(start, upto_iter + 1)
            if os.path.exists(self._p("seen", f"iter={i:06d}"))
        ]
        return dirs

    def seen_df(self, upto_iter: int, compact: dict | None = None) -> DataFrame | None:
        dirs = self._seen_dirs(upto_iter, compact)
        if not dirs:
            return None
        # one read per dir, each with its own basePath: every seen dir is
        # internally hive-partitioned by shard, and a multi-root read would
        # otherwise fail partition discovery (the union is over a BOUNDED
        # dir list — see _seen_dirs)
        dfs = [
            self.spark.read.schema(SEEN_SCHEMA).option("basePath", d).parquet(d)
            for d in dirs
        ]
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        return out

    # ---------------- compiled rule dispatch ----------------------------
    def rule_score(self) -> F.Column:
        """max-score-over-matching-rules as ONE literal CASE chain (rules
        ordered by score desc, so first match = max) — the same compile
        trick as the F3 taxonomy classifier. Replaces a broadcast
        nested-loop `url rlike url_regex` join + re-group per iteration:
        the chain short-circuits per URL, needs no shuffle, and the rule
        table is O(sites) config data (collect is a tiny one-time job).
        NULL ⇒ no rule matched (the shouldVisit gate)."""
        if self._rule_rows is None:
            rows = self.site_rules.select("url_regex", "score").collect()
            self._rule_rows = sorted(
                [(r["url_regex"], float(r["score"])) for r in rows],
                key=lambda t: -t[1],
            )
        chain: F.Column | None = None
        for rx, score in self._rule_rows:
            cond = F.col("url").rlike(rx)
            chain = (F.when(cond, F.lit(score)) if chain is None
                     else chain.when(cond, F.lit(score)))
        return F.lit(None).cast("double") if chain is None else chain

    # ---------------- init --------------------------------------------
    def init_from_seeds(self, seeds: DataFrame) -> None:
        """Seed expansion (S1, …/common/SeedParser.java:5-31) → frontier v0;
        seeds enter `seen` at schedule time (crawler4j DocIDServer semantics)."""
        expanded = (
            seeds.select(F.explode(expand_seed_template("seed")).alias("url"))
            .select(normalize_url("url").alias("url"))
            .distinct()
        )
        fr = (
            with_url_cols(expanded)
            .withColumn("score", F.coalesce(self.rule_score(), F.lit(0.0)))
            .withColumn("depth", F.lit(0))
            .withColumn("discovery_iter", F.lit(0))
            .withColumn("retry_count", F.lit(0))
            .select(*FRONTIER_COLS)
        )
        fr.write.mode("overwrite").parquet(self._p("frontier", "base_v000000"))
        fr_w = self.spark.read.schema(FRONTIER_SCHEMA).parquet(
            self._p("frontier", "base_v000000")
        )
        # per-shard pending counts ride in the checkpoint (O(shards) JSON):
        # iteration metrics update them from the delta/tombstone aggregates
        # instead of re-counting the whole frontier
        shard_rows = (
            fr_w.groupBy(
                F.pmod("host_hash", F.lit(self.n_bloom_shards))
                .cast("int").alias("shard")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        frontier_shards = {str(r["shard"]): int(r["n"]) for r in shard_rows}
        n_seeds = sum(frontier_shards.values())
        self._write_seen(fr_w, 0)
        manifest = None
        if n_seeds >= self.bloom_min_seen:
            manifest = bloom.merge_shards(
                self.spark.read.schema(SEEN_SCHEMA).parquet(
                    self._p("seen", "iter=000000")
                ),
                None, self._p("bloom", "v000000"), self.n_bloom_shards,
                expected_per_shard=self.bloom_expected_per_shard,
            )
        self._commit({
            "iter": 0,
            "frontier_base": {"path": self._p("frontier", "base_v000000"),
                              "upto": 0},
            "frontier_shards": frontier_shards,
            "seen_upto": 0,
            "seen_compact": None,
            "bloom_manifest": manifest,
            "pages_crawled_total": 0,
            "seen_total": n_seeds,
            "metrics": {"frontier_size": n_seeds},
        })

    def _write_seen(self, df: DataFrame, k: int) -> None:
        """Seen rows carry a 128-bit fingerprint (two independent xxhash64
        columns) so the J1 anti-join keys on longs, never url strings, and
        land bucketed by the bloom shard (pmod(host_hash, n_shards) as a
        directory partition) so the anti-join's seen scan prunes to the
        shards the candidates touch. One file per shard per iteration (the
        repartition): at 10^10 URLs this is the Iceberg table's bucket
        spec; here it is plain hive-style directory partitioning."""
        (
            df.select(
                "url",
                F.xxhash64("url").alias("url_hash"),
                F.xxhash64("url", F.lit(1)).alias("url_hash2"),
                "host_hash",
                F.lit(k).alias("scheduled_iter"),
                F.pmod("host_hash", F.lit(self.n_bloom_shards))
                .cast("int").alias("shard"),
            )
            .repartition(self.n_bloom_shards, "shard")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(self._p("seen", f"iter={k:06d}"))
        )

    # ---------------- one iteration ------------------------------------
    def step(self) -> dict:
        ck = self.last_checkpoint()
        if ck is None:
            raise RuntimeError("init_from_seeds first")
        k = ck["iter"] + 1
        t0 = time.monotonic()
        phases: dict[str, float] = {}
        _last = [t0]

        def _mark(name: str) -> None:
            now = time.monotonic()
            phases[name] = round(now - _last[0], 3)
            _last[0] = now

        frontier = self.frontier_view(ck["iter"], ck.get("frontier_base"))

        if self.respect_robots and self.robots is not None:
            eligible = robots_mod.apply_robots(frontier, self.robots)
        else:
            eligible = frontier

        remaining = (
            None
            if self.global_budget is None
            else max(0, self.global_budget - ck["pages_crawled_total"])
        )
        admitted = politeness.admit(
            eligible, self.per_host_budget, global_budget=remaining,
        ).select(*FRONTIER_COLS).cache()
        n_admitted = admitted.count()
        _mark("admit")

        if n_admitted == 0:
            size = sum(ck.get("frontier_shards", {}).values())
            metrics = {"admitted": 0, "frontier_size": size, "done": True}
            self._commit({**ck, "iter": k, "metrics": metrics})
            return metrics

        # ONE Python pass: fetch + extract + link discovery together; html
        # never crosses the Arrow boundary (udfs.fetch_extract_pass). The
        # pass is spilled to parquet partitioned by `kind` instead of a JVM
        # cache: page/result/link consumers then do pruned column scans
        # (kind is a directory partition), and the engine never holds
        # millions of extraction rows on-heap.
        cdir = self._p("combined", f"iter={k:06d}")
        out = self.fetcher.fetch_extract(admitted)
        # zstd, not snappy: kind=page (the text landing) is ~97% of the
        # spill's bytes and the single biggest I/O in the loop — zstd cuts
        # it ~35% for sub-ms/page extra CPU, and the writeback of this dir
        # is what stalls the NEXT phase's writes on one disk
        out.write.mode("overwrite").option("compression", "zstd").partitionBy(
            "kind"
        ).parquet(cdir)
        # explicit schema: an iteration where every admitted URL misses
        # writes no kind= dirs, which schema inference cannot read
        combined = self.spark.read.schema(out.schema).parquet(cdir)
        fetched = combined.filter(F.col("kind") == "page")
        missed = admitted.join(fetched.select("url"), "url", "left_anti")
        if self.enrichment:
            # second fetch pass(es) keyed by the pass-1 entity id; the
            # enriched copy lands in results/iter=k, which results_df
            # prefers over this iteration's combined slice
            enriched = combined.filter(F.col("kind") == "result").select(
                "url", "rowkey", "family", "cols"
            )
            for spec in self.enrichment:
                enriched = self._enrich(enriched, spec)
            enriched.write.mode("overwrite").parquet(
                self._p("results", f"iter={k:06d}")
            )
        _mark("fetch_extract_results")
        (
            fetched.select(
                "url", "host", "host_hash", "depth", "discovery_iter", "score",
                F.lit(k).alias("crawl_iter"), "lang",
            )
            .write.mode("overwrite")
            .parquet(self._p("crawled", f"iter={k:06d}"))
        )
        _mark("crawled_write")

        n_fetched = fetched.count()  # pruned count over kind=page files
        n_missed = n_admitted - n_fetched

        # retry / failed split (Q5/Q6, …/crawler/SimpleWebCrawler.java:14,73-78)
        # — computed only when something actually missed: the anti-join +
        # failed write would otherwise be two wasted jobs per iteration.
        retry = None
        if n_missed > 0:
            missed = missed.cache()
            retry = missed.filter(F.col("retry_count") + 1 < self.max_retries).select(
                "url", "host", "host_hash", "depth", "discovery_iter", "score",
                (F.col("retry_count") + 1).alias("retry_count"),
            )
            failed = missed.filter(F.col("retry_count") + 1 >= self.max_retries)
            failed.select(
                "url", F.lit("fetch_miss").alias("reason"), F.lit(k).alias("iter")
            ).write.mode("overwrite").parquet(self._p("failed", f"iter={k:06d}"))
        _mark("failed_write")

        # link discovery → should_visit gate → score (F1/F2). Link rows
        # arrive resolved, normalized, one per (partition, out_url) and
        # already carrying the parent depth (the pass's map-side combine);
        # dedup them BEFORE the rule chain so the regex evals run on the
        # unique URL set, not every (src, out) edge.
        uniq_links = (
            combined.filter(F.col("kind") == "link")
            .select(F.col("out_url").alias("url"),
                    F.col("depth").alias("parent_depth"))
            .filter(~F.col("url").rlike(EXT_BLACKLIST))
            .groupBy("url")
            .agg(F.min("parent_depth").alias("parent_depth"))
        )
        candidates = (
            uniq_links
            .withColumn("score", self.rule_score())
            .filter(F.col("score").isNotNull())
            .withColumn("depth", F.col("parent_depth") + 1)
            .drop("parent_depth")
        )
        candidates = (
            with_url_cols(candidates)
            .withColumn("url_hash", F.xxhash64("url"))
            .withColumn("url_hash2", F.xxhash64("url", F.lit(1)))
        )

        # J1 dedup vs seen (schedule-time semantics): bloom prefilter +
        # 128-bit-hash anti-join against the shard-pruned seen scan
        compact = ck.get("seen_compact")
        seen = self.seen_df(ck["iter"], compact)
        prune = ck.get("seen_total", 0) >= self.shard_prune_min_seen
        deduped = bloom.dedup_candidates(
            candidates, seen, ck.get("bloom_manifest"),
            n_shards=self.n_bloom_shards if prune else None,
        )
        new_entries = (
            deduped
            .withColumn("discovery_iter", F.lit(k))
            .withColumn("retry_count", F.lit(0))
            .select(*FRONTIER_COLS)
        )

        # frontier' = (frontier − admitted) ∪ retries ∪ new. Past the
        # lsm_min_frontier gate this is maintained LSM-style: write ONLY
        # the O(Δ) delta (new + retries) and the O(admitted) tombstone
        # versions; frontier_view() applies them at read time. A
        # one-dir-per-iteration full rewrite is the single biggest write
        # in the loop and O(frontier) at 10^10 URLs — but below the gate
        # (cold start / small crawl, where delta ≈ frontier) the direct
        # fold is the cheaper plan, so the engine picks per-iteration.
        delta = new_entries if retry is None else new_entries.unionByName(retry)
        fbase = ck.get("frontier_base")
        pending_total = sum(ck.get("frontier_shards", {}).values())
        use_lsm = pending_total >= self.lsm_min_frontier
        if use_lsm:
            # adds and tombstones land in ONE partitioned write (kind=add
            # / kind=tomb subdirs): a second tiny write job costs ~1 s of
            # fixed job+committer latency per iteration on this box
            # (measured)
            nul = [
                F.lit(None).cast(t).alias(c)
                for c, t in (("url", "string"), ("host", "string"),
                             ("host_hash", "long"), ("depth", "int"),
                             ("discovery_iter", "int"), ("score", "double"))
            ]
            tomb_rows_df = admitted.select(
                *nul,
                F.col("retry_count"),
                F.xxhash64("url").alias("url_hash"),
                F.xxhash64("url", F.lit(1)).alias("url_hash2"),
                F.lit("tomb").alias("kind"),
            )
            add_rows_df = delta.select(
                *FRONTIER_COLS,
                F.lit(None).cast("long").alias("url_hash"),
                F.lit(None).cast("long").alias("url_hash2"),
                F.lit("add").alias("kind"),
            )
            ldir = self._p("frontier", f"log_v{k:06d}")
            add_rows_df.unionByName(tomb_rows_df).write.mode(
                "overwrite"
            ).partitionBy("kind").parquet(ldir)
        else:
            # small-frontier fold: one write, no tombstones, and the next
            # iteration's view is a single dir scan
            bdir = self._p("frontier", f"base_v{k:06d}")
            (
                frontier.join(admitted.select("url"), "url", "left_anti")
                .select(*FRONTIER_COLS)
                .unionByName(delta)
                .write.mode("overwrite")
                .parquet(bdir)
            )
            fbase = {"path": bdir, "upto": k}
        dedup_cache = getattr(deduped, "_dedup_cache", None)
        if dedup_cache is not None:
            dedup_cache.unpersist(blocking=False)
        _mark("frontier_write")

        if use_lsm:
            # an iteration with no discoveries and no retries writes no
            # kind=add files at all — fall back to an empty local relation
            ddir = self._p("frontier", f"log_v{k:06d}", "kind=add")
            delta_w = (
                self.spark.read.schema(FRONTIER_SCHEMA).parquet(ddir)
                if os.path.exists(ddir)
                else self.spark.createDataFrame([], FRONTIER_SCHEMA)
            )
            new_w = delta_w.filter(
                (F.col("discovery_iter") == k) & (F.col("retry_count") == 0)
            )
        else:
            base_w = self.spark.read.schema(FRONTIER_SCHEMA).parquet(
                fbase["path"]
            )
            new_w = base_w.filter(
                (F.col("discovery_iter") == k) & (F.col("retry_count") == 0)
            )
        self._write_seen(new_w.select("url", "host_hash"), k)
        _mark("seen_write")

        # periodic frontier compaction (LSM mode): fold base ∪ deltas −
        # tombstones into a fresh base so the admission read stays bounded
        # at compact_frontier_every + 1 dirs and the tombstone broadcast
        # stays small. Committed via the checkpoint below (crash-safe the
        # same way seen compaction is).
        if use_lsm and self.compact_frontier_every:
            _, f_deltas, _ = self._frontier_dirs(k, fbase)
            if len(f_deltas) >= self.compact_frontier_every:
                cpath = self._p("frontier", f"base_v{k:06d}")
                self.frontier_view(k, fbase).write.mode("overwrite").parquet(
                    cpath
                )
                fbase = {"path": cpath, "upto": k}
                _mark("frontier_compact")

        # periodic seen compaction: fold the baseline + tail into one
        # shard-partitioned dir so the anti-join's source list stays
        # bounded (the "10^5 parquet dirs in every plan" failure mode).
        # Committed via the checkpoint below — a crash mid-rewrite leaves
        # an orphan dir and the next compaction simply redoes it.
        if self.compact_seen_every:
            n_tail = len(self._seen_dirs(k, compact)) - (1 if compact else 0)
            if n_tail >= self.compact_seen_every:
                cpath = self._p("seen", f"compact_{k:06d}")
                (
                    self.seen_df(k, compact)
                    .repartition(self.n_bloom_shards, "shard")
                    .write.mode("overwrite")
                    .partitionBy("shard")
                    .parquet(cpath)
                )
                compact = {"path": cpath, "upto": k}
                _mark("seen_compact")

        # incremental bloom: O(new rows), OR-merged into each shard's last
        # layer (merge_shards opens a larger layer when one fills). Below
        # bloom_min_seen no shards exist (the exact hash anti-join wins at
        # that size — see __init__); the first iteration at or past the
        # threshold builds every shard once from the exact seen set, and
        # later iterations only merge.
        manifest = ck.get("bloom_manifest")
        if manifest is None and ck.get("seen_total", 0) >= self.bloom_min_seen:
            manifest = bloom.build_shards(
                self.seen_df(k, compact),
                self._p("bloom", f"v{k:06d}"),
                self.n_bloom_shards,
                expected_per_shard=self.bloom_expected_per_shard,
            )
            _mark("bloom_build")
        elif manifest is not None:
            manifest = bloom.merge_shards(
                self.spark.read.schema(SEEN_SCHEMA).parquet(
                    self._p("seen", f"iter={k:06d}")
                ),
                manifest,
                self._p("bloom", f"v{k:06d}"),
                self.n_bloom_shards,
                expected_per_shard=self.bloom_expected_per_shard,
            )
        _mark("bloom_merge")

        # per-partition lineage metrics (north rule): admitted/new/frontier
        # counts per host-hash shard. With the LSM frontier these are
        # maintained INCREMENTALLY: two O(Δ)-input aggregates (delta adds,
        # admitted tombstones) collected as O(shards) rows and folded into
        # the running per-shard counts carried in the checkpoint — no
        # O(frontier) count job anywhere in the loop.
        shard = (
            F.pmod("host_hash", F.lit(self.n_bloom_shards))
            .cast("int").alias("shard")
        )
        tomb_rows = (
            admitted.select(shard)
            .groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_tomb"))
            .collect()
        )
        new_by_shard: dict[int, int] = {}
        adm_by_shard: dict[int, int] = {}
        n_new = 0
        for r in tomb_rows:
            adm_by_shard[r["shard"]] = int(r["n_tomb"])
        if use_lsm:
            add_rows = (
                delta_w.select(
                    shard,
                    (F.col("retry_count") == 0).cast("int").alias("is_new"),
                )
                .groupBy("shard")
                .agg(F.count(F.lit(1)).alias("n_add"),
                     F.sum("is_new").alias("n_new"))
                .collect()
            )
            counts = {int(s): int(n)
                      for s, n in ck.get("frontier_shards", {}).items()}
            for r in add_rows:
                counts[r["shard"]] = counts.get(r["shard"], 0) + int(r["n_add"])
                new_by_shard[r["shard"]] = int(r["n_new"] or 0)
                n_new += int(r["n_new"] or 0)
            for r in tomb_rows:
                counts[r["shard"]] = counts.get(r["shard"], 0) - int(r["n_tomb"])
        else:
            # below the LSM gate the fresh base was just written — count
            # it directly (one O(frontier) aggregate, small by definition
            # here); new-this-iteration rides as a conditional sum
            base_rows = (
                base_w.select(
                    shard,
                    ((F.col("discovery_iter") == k)
                     & (F.col("retry_count") == 0)).cast("int").alias("is_new"),
                )
                .groupBy("shard")
                .agg(F.count(F.lit(1)).alias("n_pending"),
                     F.sum("is_new").alias("n_new"))
                .collect()
            )
            counts = {}
            for r in base_rows:
                counts[r["shard"]] = int(r["n_pending"])
                new_by_shard[r["shard"]] = int(r["n_new"] or 0)
                n_new += int(r["n_new"] or 0)
        frontier_size = sum(counts.values())
        shards_all = sorted(set(counts) | set(adm_by_shard) | set(new_by_shard))
        # O(shards) rows written driver-side with pyarrow: a Spark write
        # of a 16-row local DataFrame costs 3-5 s of job+committer
        # overhead per iteration on this box (measured) for zero benefit
        import pyarrow as pa
        import pyarrow.parquet as pq

        mdir = self._p("metrics", f"iter={k:06d}")
        os.makedirs(mdir, exist_ok=True)
        pq.write_table(
            pa.table({
                "shard": pa.array(shards_all, pa.int32()),
                "n_admitted": pa.array(
                    [adm_by_shard.get(s, 0) for s in shards_all], pa.int64()),
                "n_frontier": pa.array(
                    [counts.get(s, 0) for s in shards_all], pa.int64()),
                "n_new": pa.array(
                    [new_by_shard.get(s, 0) for s in shards_all], pa.int64()),
                "iter": pa.array([k] * len(shards_all), pa.int32()),
            }),
            os.path.join(mdir, "part-00000.parquet"),
        )
        _mark("metrics_counts")

        metrics = {
            "admitted": n_admitted,
            "fetched": n_fetched,
            "failed": n_missed,
            "new_urls": n_new,
            "frontier_size": frontier_size,
            "elapsed_sec": round(time.monotonic() - t0, 3),
            "phase_sec": phases,
            "done": frontier_size == 0,
        }
        self._commit({
            "iter": k,
            "frontier_base": fbase,
            "frontier_shards": {str(s): n for s, n in counts.items()},
            "seen_upto": k,
            "seen_compact": compact,
            "bloom_manifest": manifest,
            "pages_crawled_total": ck["pages_crawled_total"] + n_admitted,
            "seen_total": ck.get("seen_total", 0) + n_new,
            "metrics": metrics,
        })
        admitted.unpersist()
        if n_missed > 0:
            missed.unpersist()
        return metrics

    def run(self, max_iters: int = 100) -> list[dict]:
        out = []
        for _ in range(max_iters):
            m = self.step()
            out.append(m)
            if m.get("done"):
                break
        return out

    # ---------------- read-back helpers for tests/analysis -------------
    def crawled_df(self) -> DataFrame:
        return self.spark.read.parquet(self._p("crawled"))

    # ---------------- J4 enrichment fetch (second pass) -----------------
    def _enrich(self, results: DataFrame, spec: EnrichmentSpec) -> DataFrame:
        """Per-entity secondary fetch merged into the extraction rows
        (Crawler4Jingdong.java:304-331: productNO → price/comment JSONP →
        fields on the same row). Distinct ids only — N rows sharing an
        entity cost one fetch; the merge is a bounded join keyed on the id
        (≤ admitted rows per iteration), never a collect."""
        eid = F.element_at("cols", spec.id_key)
        ids = (
            results.filter(F.col("family") == spec.family)
            .select(eid.alias("ent_id"))
            .filter(F.col("ent_id").isNotNull() & (F.col("ent_id") != ""))
            .distinct()
        )
        reqs = ids.withColumn(
            "url", F.format_string(spec.url_template, "ent_id")
        )
        resp = spec.fetcher(reqs)
        pairs = []
        for name, fn in spec.parse.items():
            pairs += [F.lit(name), fn(F.col("payload"))]
        extra = resp.select("ent_id", F.create_map(*pairs).alias("__extra"))
        out = results.withColumn(
            "__eid",
            F.when(F.col("family") == spec.family, eid).otherwise(F.lit(None)),
        ).join(extra, F.col("__eid") == extra.ent_id, "left")
        merged = F.when(
            F.col("__extra").isNotNull(),
            F.map_concat("cols", "__extra"),
        ).otherwise(F.col("cols"))
        return out.select(
            "url", "rowkey", "family", merged.alias("cols")
        )

    def results_df(self) -> DataFrame:
        cols = ["url", "rowkey", "family", "cols"]
        dfs = []
        done_iters: set[int] = set()
        if os.path.exists(self._p("results")):
            dfs.append(self.spark.read.parquet(self._p("results")).select(*cols))
            done_iters = {
                int(n.split("=", 1)[1])
                for n in os.listdir(self._p("results"))
                if n.startswith("iter=")
            }
        if os.path.exists(self._p("combined")):
            # explicit schema: an all-miss iteration's dir holds no files
            combined = self.spark.read.schema(RESULTS_SCHEMA).parquet(
                self._p("combined")
            ).filter(F.col("kind") == "result")
            if done_iters:
                # an iteration with a results/ dir (the enriched copy) must
                # not be double-counted from its combined slice; the filter
                # is partition pruning — iter is a directory column
                combined = combined.filter(
                    ~F.col("iter").cast("int").isin(*done_iters)
                )
            dfs.append(combined.select(*cols))
        if not dfs:
            raise FileNotFoundError("no results written yet")
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    # ---------------- J2 freshness re-admit ----------------------------
    def readmit_expired(self, ttl_iters: int) -> int:
        """Re-crawl freshness (J2): URLs whose last crawl is ≥ ttl_iters
        iterations old re-enter the frontier (the reference's 3-month
        isRowExpired check, …/crawler/social/application/SingleThread.java:286-319,
        with the deterministic iteration counter as the clock).

        Plan: latest crawl per url (window on the crawled log), filter by
        age, anti-join against the current frontier, append. Returns the
        number of re-admitted URLs and commits a new checkpoint."""
        ck = self.last_checkpoint()
        if ck is None:
            raise RuntimeError("init_from_seeds first")
        k = ck["iter"]
        from pyspark.sql import Window

        crawled = self.crawled_df()
        w = Window.partitionBy("url").orderBy(F.col("crawl_iter").desc())
        latest = (
            crawled.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        expired = latest.filter(F.col("crawl_iter") <= k - ttl_iters)
        frontier = self.frontier_view(k, ck.get("frontier_base"))
        readmit = (
            expired.join(frontier.select("url"), "url", "left_anti")
            .select(
                "url", "host", "host_hash", "depth",
                F.lit(k).alias("discovery_iter"), "score",
                F.lit(0).alias("retry_count"),
            )
        ).cache()
        n = readmit.count()
        if n == 0:
            readmit.unpersist()
            return 0
        # occasional maintenance op: fold view ∪ readmits into a fresh
        # base (doubles as a compaction); per-shard counts bump by the
        # readmitted rows
        fdir = self._p("frontier", f"base_v{k:06d}_readmit")
        frontier.select(*FRONTIER_COLS).unionByName(readmit).write.mode(
            "overwrite"
        ).parquet(fdir)
        counts = {int(s): int(c)
                  for s, c in ck.get("frontier_shards", {}).items()}
        for r in (
            readmit.groupBy(
                F.pmod("host_hash", F.lit(self.n_bloom_shards))
                .cast("int").alias("shard")
            ).agg(F.count(F.lit(1)).alias("n")).collect()
        ):
            counts[r["shard"]] = counts.get(r["shard"], 0) + int(r["n"])
        readmit.unpersist()
        self._commit({**ck,
                      "frontier_base": {"path": fdir, "upto": k},
                      "frontier_shards": {str(s): c for s, c in counts.items()},
                      "metrics": {**ck.get("metrics", {}), "readmitted": n}})
        return n
