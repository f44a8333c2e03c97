"""The crawl loop: frontier → admit → fetch → extract → discover → dedup → frontier'.

This is the Spark rewrite of crawler4j's controller loop
(…/main/CrawlerManager.java:53-108 + the crawler4j library semantics the
reference configures): BFS frontier with URL-seen dedup at schedule time,
per-host politeness, global page budget, resumable state.

Design for 10^10 URLs (the north rule):
  - every stage is a DataFrame op partitioned by host (admit window,
    politeness) or url (fetch join, seen anti-join); no driver-side loops
    over rows, only over *iterations*;
  - URL-seen = `seen` parquet partitions + per-shard bloom files
    (frontier/bloom.py) so the anti-join input shrinks map-side. An
    iteration appends its new URLs as `seen/iter=k`, or, when a seen
    compaction is due, writes them straight into a fresh baseline
    `seen/compact_k` = seen(k−1) ∪ new — one write either way;
  - one URL fingerprint: with_url_cols (frontier/urlnorm.py) derives
    (url_hash, url_hash2) when a URL is seeded or discovered, and every
    frontier row carries them; with retry_count they are the row's
    version key, and drop_versions is the one place admitted versions
    leave the frontier;
  - the pending frontier is an LSM log past `lsm_min_frontier`: each
    iteration appends an O(Δ) delta (kind=add) + its O(admitted) admitted
    rows as tombstones (kind=tomb), both plain frontier rows, and the
    view is base ∪ deltas − tombstone versions (broadcast anti-join). A
    compaction iteration (every `compact_frontier_every`) is a fold: it
    writes (view − admitted) ∪ Δ as a fresh base instead of a log, so no
    iteration appends and then re-reads what it appended. Below the gate
    every iteration folds (the cheaper plan at that size);
  - one record per fetch: the fused pass's spill `combined/iter=k` holds
    a kind=page or kind=miss row per admitted URL (plus its result and
    link rows); the crawl log (crawled_df) is its page slice, the
    retries are its miss slice, and a miss on its last attempt is the
    terminal failure (failed_df);
  - no count job: the step's per-shard counts come from one aggregate
    over the cached admitted set, the parquet footers of what it wrote,
    and (only when something missed) the miss slice — the loop never
    re-reads or counts the O(frontier) pending set; each phase's jobs
    carry the job group `iter=k:<phase>`;
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

import pyarrow as pa
import pyarrow.parquet as pq
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
    "url", "host", "host_hash", "url_hash", "url_hash2", "depth",
    "discovery_iter", "score", "retry_count",
]

# explicit schema for every frontier base, delta and tombstone read: an
# iteration that discovers nothing writes an empty dir (no footers to
# infer from), and inferring from footers costs a Spark job per read
FRONTIER_SCHEMA = (
    "url string, host string, host_hash long, url_hash long, "
    "url_hash2 long, depth int, discovery_iter int, score double, "
    "retry_count int"
)

# a frontier row's VERSION: the 128-bit url fingerprint + retry_count (a
# requeued retry is a different version, so it survives the anti-join
# that removes its admitted predecessor)
VERSION_KEY = ["url_hash", "url_hash2", "retry_count"]

# explicit schema for seen-dir reads: an iteration that discovers no new
# URLs writes an empty partitioned dir (no parquet footers), which would
# otherwise fail schema inference
SEEN_SCHEMA = (
    "url string, url_hash long, url_hash2 long, host_hash long, "
    "scheduled_iter int, shard int"
)

# _spill's read of the combined/iter=*/kind=* spill (iter and kind are
# directory partitions; text is never read)
SPILL_SCHEMA = FRONTIER_SCHEMA + (
    ", rowkey string, family string, cols map<string,string>, lang string, "
    "kind string, iter int"
)


def drop_versions(rows: DataFrame, versions: DataFrame) -> DataFrame:
    """rows minus every row whose version (VERSION_KEY) is in versions: the
    one way rows leave the frontier (the view's tombstones, the fold,
    readmit_expired). In the view and the fold the versions side is the
    O(admitted) one, so the planner broadcasts it under
    autoBroadcastJoinThreshold and the O(frontier) rows side never
    shuffles."""
    return rows.join(versions.select(*VERSION_KEY), VERSION_KEY, "left_anti")


def _footer_rows(*dirs: str) -> dict[str, int]:
    """Rows per partition subdir ('kind=page', 'shard=3') under parquet
    dirs, summed from their footers: counts what a write produced without
    a Spark job (on Iceberg the snapshot manifests carry the same counts).
    Hidden paths ('_temporary', '.crc') are skipped, as Spark's reader
    skips them."""
    out: dict[str, int] = {}
    for d in dirs:
        for root, subdirs, files in os.walk(d):
            subdirs[:] = [x for x in subdirs if not x.startswith((".", "_"))]
            part = os.path.basename(root)
            for f in files:
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    n = pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
                    out[part] = out.get(part, 0) + n
    return out


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
    fetch_extract(admitted) left-joins it on url and runs the shared
    fetch+extract pass over the joined html; an admitted URL with no page
    row is a fetch failure, a kind='miss' row (S3 retry path). In
    production the join is replaced by an HTTP GET inside page_of — same
    output contract."""

    def __init__(self, spark: SparkSession, pages_path: str):
        self.pages = spark.read.parquet(pages_path).select(
            "url", "html", "lang", "text"
        )

    def fetch_extract(self, admitted: DataFrame) -> DataFrame:
        return fetch_extract_pass(
            admitted.join(self.pages, "url", "left"),
            admitted.columns,
            lambda row: None if row["html"] is None
            else (_decode(row["html"]), row["lang"], row["text"]),
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
        # every N iterations the iteration writes its new seen rows into
        # a fresh shard-partitioned baseline (seen(k−1) ∪ new) instead of
        # appending, so the anti-join plan reads a bounded dir list (≤ N)
        # instead of one dir per iteration ever crawled; 0 disables
        # compaction
        self.compact_seen_every = compact_seen_every
        # the frontier is maintained LSM-style for the same reason: one
        # O(frontier)-row rewrite per iteration is the single biggest
        # write at 10^10 URLs. Each iteration appends an O(Δ) delta dir
        # (new discoveries + requeued retries) and an O(admitted)
        # tombstone dir; the pending view is base ∪ deltas − tombstones
        # (broadcast anti-join on the 128-bit row-version key — map-side,
        # the big side never shuffles). Every N iterations the iteration
        # folds the view into a new base instead of appending (the same
        # write as below the gate), so reads stay bounded at N dirs and
        # the full-frontier write cost is amortized to O(frontier/N).
        self.compact_frontier_every = compact_frontier_every
        # LSM only pays once the pending set dwarfs the per-iteration
        # delta AND the O(pending) fold write outweighs the log's fixed
        # overhead (~3 s/iteration of view anti-join + log jobs on this
        # box). Measured fold-write slope is ~0.1 s per million pending
        # rows here (both probes: BENCH/BASELINE.md §2d), putting the local
        # crossover at tens of millions of rows; on replicated DFS the
        # per-row write cost is several × higher, so the default sits
        # below the local crossover. Below the gate every iteration folds
        # (pending − admitted) ∪ delta into a fresh base — the same branch
        # a compaction iteration takes above it. Same gate philosophy as
        # bloom_min_seen: don't pay scale machinery for state you don't
        # have yet. Semantics are identical either side (gate-crossing
        # equivalence is pytest-asserted).
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
        frontier at iteration k. Bounded by compact_frontier_every —
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
        deltas, minus the tombstoned row versions (the admitted frontier
        rows). Base and deltas are one multi-path scan; the tombstones (≤
        compact_frontier_every × per-iteration admissions, of which the
        anti-join reads the three version-key columns) are small, so the
        planner broadcasts them under autoBroadcastJoinThreshold and the
        anti-join is map-side: the O(frontier) big side never shuffles.
        Past the threshold it plans a plain anti-join instead."""
        base_path, deltas, tombs = self._frontier_dirs(k, base)
        fr = self.spark.read.schema(FRONTIER_SCHEMA).parquet(
            *([base_path] if base_path else []), *deltas
        )
        if tombs:
            fr = drop_versions(
                fr, self.spark.read.schema(FRONTIER_SCHEMA).parquet(*tombs))
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
        since it. Bounded by compact_seen_every — the per-iteration
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
        """Seen set through upto_iter. A compaction iteration writes no
        seen/iter=k dir, so `compact` defaults to the last checkpoint's
        baseline pointer."""
        if compact is None:
            compact = (self.last_checkpoint() or {}).get("seen_compact")
            if compact and compact["upto"] > upto_iter:
                raise ValueError(f"pass iteration {upto_iter}'s seen_compact")
        return self._read_seen(self._seen_dirs(upto_iter, compact))

    def _read_seen(self, dirs: list[str]) -> DataFrame | None:
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

    def _shard_counts(self, df: DataFrame) -> dict[int, int]:
        """{host-hash shard: rows of df}: one aggregate, O(shards) rows
        collected."""
        rows = (
            df.groupBy(
                F.pmod("host_hash", F.lit(self.n_bloom_shards))
                .cast("int").alias("shard")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return {r["shard"]: int(r["n"]) for r in rows}

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
        # each iteration updates them from counts it already holds instead
        # of re-counting the whole frontier
        frontier_shards = {str(s): n for s, n in self._shard_counts(fr_w).items()}
        n_seeds = sum(frontier_shards.values())
        seeds_seen = self._seen_rows(fr_w, 0)
        self._write_seen(seeds_seen, self._p("seen", "iter=000000"))
        manifest = None
        if n_seeds >= self.bloom_min_seen:
            manifest = bloom.merge_shards(
                seeds_seen, None, self._p("bloom", "v000000"),
                self.n_bloom_shards,
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

    def _seen_rows(self, df: DataFrame, k: int) -> DataFrame:
        """Seen rows carry the frontier rows' 128-bit fingerprint, so the
        J1 anti-join keys on longs, never url strings, and the bloom shard
        (pmod(host_hash, n_shards)) they land under."""
        return df.select(
            "url", "url_hash", "url_hash2", "host_hash",
            F.lit(k).alias("scheduled_iter"),
            F.pmod("host_hash", F.lit(self.n_bloom_shards))
            .cast("int").alias("shard"),
        )

    def _write_seen(self, rows: DataFrame, path: str) -> None:
        """Seen rows land bucketed by shard (a directory partition) so the
        anti-join's seen scan prunes to the shards the candidates touch.
        One file per shard per write (the repartition): at 10^10 URLs this
        is the Iceberg table's bucket spec; here it is plain hive-style
        directory partitioning."""
        (
            rows.repartition(self.n_bloom_shards, "shard")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(path)
        )

    # ---------------- one iteration ------------------------------------
    def step(self) -> dict:
        try:
            return self._step()
        finally:  # later jobs must not be charged to the step's last phase
            self.spark.sparkContext._jsc.clearJobGroup()

    def _step(self) -> dict:
        ck = self.last_checkpoint()
        if ck is None:
            raise RuntimeError("init_from_seeds first")
        k = ck["iter"] + 1
        sc = self.spark.sparkContext
        t0 = time.monotonic()
        phases: dict[str, float] = {}
        running: list = [None, t0]  # phase name, start

        def _phase(name: str | None) -> None:
            """Close the running phase (its wall seconds go to phase_sec)
            and tag the new one's Spark jobs with job group iter=k:name."""
            now = time.monotonic()
            if running[0]:
                phases[running[0]] = round(now - running[1], 3)
            running[:] = [name, now]
            if name:
                sc.setJobGroup(f"iter={k}:{name}", f"crawl iteration {k}: {name}")

        _phase("admit")
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
        # one aggregate gives both the early-exit count and the per-shard
        # admissions the pending counts drop by
        adm_by_shard = self._shard_counts(admitted)
        n_admitted = sum(adm_by_shard.values())

        if n_admitted == 0:
            admitted.unpersist()
            size = sum(ck.get("frontier_shards", {}).values())
            metrics = {"admitted": 0, "frontier_size": size, "done": True}
            self._commit({**ck, "iter": k, "metrics": metrics})
            return metrics

        # ONE Python pass: fetch + extract + link discovery together; html
        # never crosses the Arrow boundary (udfs.fetch_extract_pass). The
        # pass is spilled to parquet partitioned by `kind` instead of a JVM
        # cache: page/miss/result/link consumers then do pruned column
        # scans (kind is a directory partition), and the engine never
        # holds millions of extraction rows on-heap. The spill is the
        # iteration's only per-fetch record: one page or miss row per
        # admitted URL.
        _phase("fetch_extract_results")
        cdir = self._p("combined", f"iter={k:06d}")
        out = self.fetcher.fetch_extract(admitted)
        # zstd, not snappy: kind=page (the text landing) is ~97% of the
        # spill's bytes and the single biggest I/O in the loop — zstd cuts
        # it ~35% for sub-ms/page extra CPU, and the writeback of this dir
        # is what stalls the NEXT phase's writes on one disk
        out.write.mode("overwrite").option("compression", "zstd").partitionBy(
            "kind"
        ).parquet(cdir)
        by_kind = _footer_rows(*(os.path.join(cdir, f"kind={x}")
                                 for x in ("page", "miss")))
        n_fetched = by_kind.get("kind=page", 0)
        n_missed = by_kind.get("kind=miss", 0)
        if n_fetched + n_missed != n_admitted:
            admitted.unpersist()
            raise RuntimeError(
                f"iteration {k}: the fetcher returned {n_fetched} pages and "
                f"{n_missed} misses for {n_admitted} admitted URLs"
            )
        combined = self.spark.read.schema(out.schema).parquet(cdir)
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
        # retries (Q5, …/crawler/SimpleWebCrawler.java:14,73-78) from the
        # spill's miss slice — only when something actually missed: the
        # per-shard retry count would otherwise be a wasted job every
        # iteration. A miss on its last attempt is the terminal failure
        # record itself (failed_df). The phase keeps the name
        # "failed_write" that the benchmark's phase table knows.
        _phase("failed_write")
        retry = None
        retry_by_shard: dict[int, int] = {}
        if n_missed > 0:
            retry = (
                combined.filter((F.col("kind") == "miss")
                                & (F.col("retry_count") + 1 < self.max_retries))
                .withColumn("retry_count", F.col("retry_count") + 1)
                .select(*FRONTIER_COLS)
            )
            retry_by_shard = self._shard_counts(retry)

        # link discovery → should_visit gate → score (F1/F2). Link rows
        # arrive resolved, normalized, one per (partition, out_url) and
        # already carrying the parent depth (the pass's map-side combine);
        # dedup them BEFORE the rule chain so the regex evals run on the
        # unique URL set, not every (src, out) edge.
        _phase("frontier_write")
        uniq_links = (
            combined.filter(F.col("kind") == "link")
            .select(F.col("out_url").alias("url"),
                    F.col("depth").alias("parent_depth"))
            .filter(~F.col("url").rlike(EXT_BLACKLIST))
            .groupBy("url")
            .agg(F.min("parent_depth").alias("parent_depth"))
        )
        candidates = with_url_cols(
            uniq_links
            .withColumn("score", self.rule_score())
            .filter(F.col("score").isNotNull())
            .withColumn("depth", F.col("parent_depth") + 1)
            .drop("parent_depth")
        )

        # J1 dedup vs seen (schedule-time semantics): bloom prefilter +
        # 128-bit-hash anti-join against the shard-pruned seen scan
        compact = ck.get("seen_compact")
        seen_dirs = self._seen_dirs(ck["iter"], compact)
        seen = self._read_seen(seen_dirs)
        prune = ck.get("seen_total", 0) >= self.shard_prune_min_seen
        deduped, dedup_cache = bloom.dedup_candidates(
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
        # the O(Δ) delta (new + retries) and the admitted rows as
        # O(admitted) tombstones; frontier_view() drops their versions at
        # read time. Every compact_frontier_every iterations, and on
        # every iteration below the gate (cold start / small crawl, where
        # delta ≈ frontier and the log's fixed cost loses), the iteration
        # instead folds the view into a fresh base: a compaction is that
        # same single write, never an append followed by a re-read.
        delta = new_entries if retry is None else new_entries.unionByName(retry)
        fbase = ck["frontier_base"]
        pending_total = sum(ck.get("frontier_shards", {}).values())
        fold = pending_total < self.lsm_min_frontier or (
            self.compact_frontier_every > 0
            and k - fbase["upto"] >= self.compact_frontier_every
        )
        if fold:
            bdir = self._p("frontier", f"base_v{k:06d}")
            drop_versions(frontier, admitted).unionByName(delta).write.mode(
                "overwrite"
            ).parquet(bdir)
            fbase = {"path": bdir, "upto": k}
            delta_w = self.spark.read.schema(FRONTIER_SCHEMA).parquet(bdir)
        else:
            # adds and tombstones are plain frontier rows landing in ONE
            # partitioned write (kind=add / kind=tomb subdirs): a second
            # tiny write job costs ~1 s of fixed job+committer latency per
            # iteration on this box (measured)
            ldir = self._p("frontier", f"log_v{k:06d}")
            delta.withColumn("kind", F.lit("add")).unionByName(
                admitted.withColumn("kind", F.lit("tomb"))
            ).write.mode("overwrite").partitionBy("kind").parquet(ldir)
            # an iteration with no discoveries and no retries writes no
            # kind=add files at all — fall back to an empty local relation
            ddir = os.path.join(ldir, "kind=add")
            delta_w = (
                self.spark.read.schema(FRONTIER_SCHEMA).parquet(ddir)
                if os.path.exists(ddir)
                else self.spark.createDataFrame([], FRONTIER_SCHEMA)
            )
        if dedup_cache is not None:
            dedup_cache.unpersist(blocking=False)

        # this iteration's new URLs, read back from the frontier write (the
        # link-discovery + dedup plan is never recomputed)
        _phase("seen_write")
        new_seen = self._seen_rows(
            delta_w.filter(
                (F.col("discovery_iter") == k) & (F.col("retry_count") == 0)
            ),
            k,
        )
        # seen compaction rides this write: when due, the new rows go
        # straight into a fresh shard-partitioned baseline seen(k−1) ∪ new,
        # and no seen/iter=k dir is written, so the anti-join's source list
        # stays bounded at compact_seen_every dirs (the "10^5 parquet
        # dirs in every plan" failure mode). Committed via the checkpoint
        # below: a crash mid-write leaves an orphan dir that the resumed
        # iteration simply rewrites.
        n_tail = len(seen_dirs) - (1 if compact else 0)
        if self.compact_seen_every and n_tail + 1 >= self.compact_seen_every:
            sdir = self._p("seen", f"compact_{k:06d}")
            self._write_seen(seen.unionByName(new_seen), sdir)
            compact = {"path": sdir, "upto": k}
            replaced = seen_dirs
        else:
            sdir = self._p("seen", f"iter={k:06d}")
            self._write_seen(new_seen, sdir)
            replaced = []
        # new rows per shard from the footers of what was just written
        # (minus the dirs a compaction replaced): no count job
        old_rows = _footer_rows(*replaced)
        new_by_shard = {int(p[len("shard="):]): n - old_rows.get(p, 0)
                        for p, n in _footer_rows(sdir).items()}

        # incremental bloom: O(new rows), OR-merged into each shard's last
        # layer (merge_shards opens a larger layer when one fills). Below
        # bloom_min_seen no shards exist (the exact hash anti-join wins at
        # that size — see __init__); the first iteration at or past the
        # threshold builds every shard once from the exact seen set, and
        # later iterations only merge.
        manifest = ck.get("bloom_manifest")
        if manifest is None and ck.get("seen_total", 0) >= self.bloom_min_seen:
            _phase("bloom_build")
            manifest = bloom.build_shards(
                self._read_seen(self._seen_dirs(k, compact)),
                self._p("bloom", f"v{k:06d}"),
                self.n_bloom_shards,
                expected_per_shard=self.bloom_expected_per_shard,
            )
        else:
            _phase("bloom_merge")
            if manifest is not None:
                manifest = bloom.merge_shards(
                    new_seen,
                    manifest,
                    self._p("bloom", f"v{k:06d}"),
                    self.n_bloom_shards,
                    expected_per_shard=self.bloom_expected_per_shard,
                )

        # per-partition lineage metrics (north rule): admitted/new/frontier
        # counts per host-hash shard, all from counts the step already
        # holds: pending' = pending − admitted + new + retries per shard,
        # folded into the running counts carried in the checkpoint — no
        # count job, and no O(frontier) read, anywhere in the loop.
        _phase("metrics_counts")
        counts = {int(s): n for s, n in ck.get("frontier_shards", {}).items()}
        for s, n in adm_by_shard.items():
            counts[s] = counts.get(s, 0) - n
        for by_shard in (new_by_shard, retry_by_shard):
            for s, n in by_shard.items():
                counts[s] = counts.get(s, 0) + n
        n_new = sum(new_by_shard.values())
        frontier_size = sum(counts.values())
        shards_all = sorted(set(counts) | set(adm_by_shard) | set(new_by_shard))
        # O(shards) rows written driver-side with pyarrow: a Spark write
        # of a 16-row local DataFrame costs 3-5 s of job+committer
        # overhead per iteration on this box (measured) for zero benefit
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
        _phase(None)

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
    def _spill(self, kind: str) -> DataFrame:
        """One kind's slice of the committed iterations' spill. Both
        filters prune partitions: a crash's orphan iteration never shows."""
        ck = self.last_checkpoint()
        return self.spark.read.schema(SPILL_SCHEMA).parquet(
            self._p("combined")
        ).filter((F.col("kind") == kind)
                 & (F.col("iter") <= (ck["iter"] if ck else -1)))

    def crawled_df(self) -> DataFrame:
        """The crawl log: one row per fetched page, from the spill."""
        return self._spill("page").select(
            "url", "host", "host_hash", "depth", "discovery_iter", "score",
            F.col("iter").alias("crawl_iter"), "lang",
        )

    def failed_df(self) -> DataFrame:
        """Terminally failed URLs (Q6): the spill's misses on their last
        attempt — a miss with retry_count + 1 < max_retries was requeued
        instead."""
        return self._spill("miss").filter(
            F.col("retry_count") + 1 >= self.max_retries
        ).select("url", "retry_count", F.col("iter").alias("failed_iter"))

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
        """Extraction rows of the committed iterations: an iteration's
        enriched copy (results/iter=k) replaces its spill's result slice."""
        cols = ["url", "rowkey", "family", "cols"]
        out = self._spill("result").select(*cols, "iter")
        rdir = self._p("results")
        if os.path.exists(rdir):
            # iter is a directory column: both filters prune partitions
            done = [int(n.split("=", 1)[1]) for n in os.listdir(rdir)
                    if n.startswith("iter=")]
            out = out.filter(~F.col("iter").isin(*done)).unionByName(
                self.spark.read.parquet(rdir).select(*cols, "iter")
                .filter(F.col("iter") <= self.last_checkpoint()["iter"])
            )
        return out.select(*cols)

    # ---------------- J2 freshness re-admit ----------------------------
    def readmit_expired(self, ttl_iters: int) -> int:
        """Re-crawl freshness (J2): URLs whose last crawl is ≥ ttl_iters
        iterations old re-enter the frontier (the reference's 3-month
        isRowExpired check, …/crawler/social/application/SingleThread.java:286-319,
        with the deterministic iteration counter as the clock).

        Plan: latest crawl per url (window on the crawled log), filter by
        age, drop the URLs already pending, append. Returns the number of
        re-admitted URLs and commits a new checkpoint."""
        ck = self.last_checkpoint()
        if ck is None:
            raise RuntimeError("init_from_seeds first")
        k = ck["iter"]
        from pyspark.sql import Window

        # the crawl log as the spill holds it: frontier rows, fingerprint
        # included, plus the crawl iteration
        w = Window.partitionBy("url").orderBy(F.col("iter").desc())
        expired = (
            self._spill("page").withColumn("__rn", F.row_number().over(w))
            .filter((F.col("__rn") == 1) & (F.col("iter") <= k - ttl_iters))
            .withColumns({"discovery_iter": F.lit(k), "retry_count": F.lit(0)})
            .select(*FRONTIER_COLS)
        )
        frontier = self.frontier_view(k, ck.get("frontier_base"))
        # a readmit is version 0 of its url, and a pending url blocks it
        # at any retry_count
        readmit = drop_versions(
            expired, frontier.withColumn("retry_count", F.lit(0))
        ).cache()
        re_by_shard = self._shard_counts(readmit)
        n = sum(re_by_shard.values())
        if n == 0:
            readmit.unpersist()
            return 0
        # occasional maintenance op: fold view ∪ readmits into a fresh
        # base (doubles as a compaction); per-shard counts bump by the
        # readmitted rows
        fdir = self._p("frontier", f"base_v{k:06d}_readmit")
        frontier.unionByName(readmit).write.mode("overwrite").parquet(fdir)
        counts = {int(s): int(c)
                  for s, c in ck.get("frontier_shards", {}).items()}
        for s, c in re_by_shard.items():
            counts[s] = counts.get(s, 0) + c
        readmit.unpersist()
        self._commit({**ck,
                      "frontier_base": {"path": fdir, "upto": k},
                      "frontier_shards": {str(s): c for s, c in counts.items()},
                      "metrics": {**ck.get("metrics", {}), "readmitted": n}})
        return n
