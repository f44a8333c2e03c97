"""The two crawl workloads.

One process drives ``CrawlEngine.step()`` in a closed loop: the next
iteration starts when the previous one has committed. The inputs are a
synthetic corpus (``GeneratorFetcher`` regenerates each page from its URL)
and a seed list drawn from the workload seed.

``crawl_fetch_heavy`` is the bench crawl shape: a Zipf host mix, a per-host
budget of 200 and the engine's default scale gates, so the bloom filter
and the LSM frontier stay off and the fused Python fetch+extract pass does
most of the work. ``crawl_frontier_heavy`` holds a pending frontier and
seen set far larger than one iteration's admissions (per-host budget 1),
with every scale gate lowered to 0, the seen set compacted every iteration
and the frontier every second one, so frontier view, bloom prefilter,
seen anti-join, bloom merge and compaction dominate and extraction is a
minority. Robots rules are evaluated there; their disallow prefix matches
no corpus path, so the single-process simulator still predicts the crawl.

Iteration 1 is a warm-up and belongs to set-up; the timed iterations
follow until ``seconds`` have passed. Run for less than one iteration's
wall time, the window is iteration 2 alone, which on
``crawl_frontier_heavy`` reads the frontier through iteration 1's
tombstones and compacts both the frontier and the seen set.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import statistics
import time
from dataclasses import dataclass, field

import eventlog
import procstat

# step()'s phase_sec names, folded into the benchmark's phase names. The
# time after the last marked phase (checkpoint commit, unpersists) is
# "commit"; a phase name this table does not know lands in "other".
PHASES = [
    "admit", "fetch_extract", "crawled_write", "failed_write",
    "frontier_write", "seen_write", "compact", "bloom", "metrics",
    "commit", "other",
]
_PHASE_OF = {
    "admit": "admit",
    "fetch_extract_results": "fetch_extract",
    "crawled_write": "crawled_write",
    "failed_write": "failed_write",
    "frontier_write": "frontier_write",
    "seen_write": "seen_write",
    "frontier_compact": "compact",
    "seen_compact": "compact",
    "bloom_build": "bloom",
    "bloom_rebuild": "bloom",
    "bloom_merge": "bloom",
    "metrics_counts": "metrics",
}
SUBSTEPS = ["build_page", "dom_text", "extract", "links", "normalize"]


@dataclass(frozen=True)
class Shape:
    n_urls: int
    n_seeds: int
    per_host_budget: int
    robots: bool
    engine_kw: dict = field(default_factory=dict)


SHAPES = {
    "crawl_fetch_heavy": Shape(
        n_urls=50_000, n_seeds=3_000, per_host_budget=200, robots=False,
    ),
    "crawl_frontier_heavy": Shape(
        n_urls=400_000, n_seeds=25_000, per_host_budget=1, robots=True,
        engine_kw=dict(
            bloom_min_seen=0, shard_prune_min_seen=0, lsm_min_frontier=0,
            compact_frontier_every=2, compact_seen_every=1,
        ),
    ),
}
WARMUP_ITERS = 1
MAX_ITERS = 40
RESULT_SAMPLE = 100
REPLAY_SAMPLE = 200


def url_idx(url: str) -> int:
    return int(url.rsplit("/", 1)[-1].replace(".html", ""))


def url_set_digest(urls) -> tuple[int, str]:
    """(count, order-free digest) of a URL set: the sum of 64-bit
    blake2b hashes, so both sides can be digested in any order."""
    acc = 0
    n = 0
    for u in urls:
        acc += int.from_bytes(
            hashlib.blake2b(u.encode(), digest_size=8).digest(), "little"
        )
        n += 1
    return n, format(acc % 2**64, "016x")


def seed_urls(shape: Shape, seed: int) -> list[str]:
    from dmp_crawler_spark.corpus import templates

    rng = random.Random(seed)
    idxs = rng.sample(range(shape.n_urls), shape.n_seeds)
    return [templates.url_for(i, shape.n_urls) for i in idxs]


def simulate(shape: Shape, seeds: list[str], n_iters: int,
             cache_path: str) -> list[dict]:
    """Per-iteration digests of FrontierSimulator's visit set and seen
    set, cached per workload seed (the simulator costs seconds per
    iteration)."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if len(cached) >= n_iters:
            return cached[:n_iters]
    from dmp_crawler_spark.corpus import templates
    from dmp_crawler_spark.frontier.simulator import FrontierSimulator

    rules = [(rf"https?://[^/]+/{a}/\d+\.html", 1.0 + i * 0.1)
             for i, a in enumerate(templates.ARCHETYPES)]
    sim = FrontierSimulator(shape.n_urls, rules,
                            per_host_budget=shape.per_host_budget)
    sim.init_from_seeds(seeds)
    out = []
    for k in range(1, n_iters + 1):
        sim.step()
        visits = [u for i, u in sim.state.visit_order if i == k]
        out.append({"visit": url_set_digest(visits),
                    "seen": url_set_digest(sim.state.seen)})
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, cache_path)
    return out


def du_mb(*paths: str) -> float:
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


class Spans:
    """Wall-clock spans around eager public calls, recorded by wrapping
    them in this process (the program itself is not instrumented)."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self._undo: list = []

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        def traced(*a, **kw):
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                self.spans.append((name, t0, time.time()))

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, fn))

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def seconds(self, name: str, start: float, end: float) -> float:
        return sum(b - a for n, a, b in self.spans
                   if n == name and start <= a < end)


def phase_windows(start: float, wall: float, phase_sec: dict):
    """[(phase, start, end)] for one step: phases run one after another
    in the driver thread, so the windows follow phase_sec's insertion
    order from the step's start; the rest of the step is 'commit'."""
    out, t = [], start
    for raw, sec in phase_sec.items():
        out.append((_PHASE_OF.get(raw, "other"), t, t + sec))
        t += sec
    out.append(("commit", t, max(t, start + wall)))
    return out


def replay_fused_pass(urls: list[str], n_urls: int) -> dict[str, float]:
    """ms per page of each Python sub-step of the fused fetch+extract
    pass, replayed in this process on a sample of crawled pages. The
    first pass over the sample warms caches; the second is timed."""
    from dmp_crawler_spark.corpus import templates
    from dmp_crawler_spark.extractors import htmlmini, oracle
    from dmp_crawler_spark.extractors.udfs import _HREF_RE
    from dmp_crawler_spark.frontier.urlnorm import (
        py_normalize_url,
        py_resolve_link,
    )

    href_re = re.compile(_HREF_RE)
    clock = time.perf_counter
    for _ in range(2):
        ms = dict.fromkeys(SUBSTEPS, 0.0)
        links: dict[str, str] = {}
        for url in urls:
            t0 = clock()
            page = templates.build_page(url_idx(url), n_urls)
            t1 = clock()
            html = page["html_str"]
            # build_page parsed the page and left the tree in the parser's
            # one-entry memo; parse another document so the timed
            # jsoup_text reparses, then extract reuses its tree as in
            # the fused pass
            htmlmini.jsoup_text("")
            t2 = clock()
            if page["archetype"] != "json_api":  # build_page skips its text
                htmlmini.jsoup_text(html)
            t3 = clock()
            oracle.extract(url, html)
            t4 = clock()
            for m in href_re.finditer(html):
                links.setdefault(py_resolve_link(url, m.group(1)), url)
            t5 = clock()
            ms["build_page"] += (t1 - t0) - (t3 - t2)
            ms["dom_text"] += t3 - t2
            ms["extract"] += t4 - t3
            ms["links"] += t5 - t4
        t0 = clock()
        for raw in links:
            py_normalize_url(raw)
        ms["normalize"] += clock() - t0
    return {k: 1000.0 * v / len(urls) for k, v in ms.items()}


def check_results(eng, visited: list[str], shape: Shape,
                  rng: random.Random) -> list[str]:
    """URLs of a fixed sample whose results_df() rows differ from
    extractors.oracle.extract on the regenerated page."""
    from pyspark.sql import functions as F

    from dmp_crawler_spark.corpus import templates
    from dmp_crawler_spark.extractors import oracle

    sample = sorted(rng.sample(visited, min(RESULT_SAMPLE, len(visited))))
    got: dict[str, list] = {u: [] for u in sample}
    for r in eng.results_df().filter(F.col("url").isin(sample)).collect():
        got[r["url"]].append(
            (r["rowkey"], r["family"], sorted((r["cols"] or {}).items())))
    bad = []
    for u in sample:
        html = templates.build_page(url_idx(u), shape.n_urls)["html_str"]
        want = [(x["rowkey"], x["family"], sorted(x["cols"].items()))
                for x in oracle.extract(u, html)]
        if sorted(got[u]) != sorted(want):
            bad.append(u)
    return bad


def run(ctx, workload: str) -> dict:
    from pyspark.sql import functions as F

    from dmp_crawler_spark.corpus import generator
    from dmp_crawler_spark.frontier import bloom
    from dmp_crawler_spark.frontier.scheduler import CrawlEngine

    shape = SHAPES[workload]
    spark = ctx.spark
    seeds = seed_urls(shape, ctx.seed)
    state_dir = os.path.join(ctx.work_dir, "state")
    spans = Spans()

    # ---- set-up: inputs, engine, init, warm-up iteration
    seeds_df = spark.createDataFrame([(u, "") for u in seeds],
                                     "seed string, site string")
    robots = (generator.generate_robots(spark, shape.n_urls)
              if shape.robots else None)
    eng = CrawlEngine(
        spark, state_dir,
        generator.GeneratorFetcher(spark, shape.n_urls),
        generator.generate_site_rules(spark),
        robots=robots, respect_robots=shape.robots,
        per_host_budget=shape.per_host_budget,
        **shape.engine_kw,
    )
    if ctx.trace:
        spans.wrap(bloom, "merge_shards", "bloom.merge_shards")
        spans.wrap(bloom, "build_shards", "bloom.build_shards")
        spans.wrap(eng.checkpoint_store, "commit", "statelog.commit")
    iters: list[dict] = []
    failed_iters: set[int] = set()

    def one_step() -> bool:
        t0 = time.time()
        try:
            m = eng.step()
        except Exception as e:  # a raising iteration is a failed op
            ctx.log(f"iteration {len(iters) + 1} raised: {e!r}")
            failed_iters.add(len(iters) + 1)
            return False
        iters.append({"k": len(iters) + 1, "start": t0,
                      "wall": time.time() - t0, "m": m})
        ctx.log(f"iteration {len(iters)}: {time.time() - t0:.2f}s "
                f"admitted={m['admitted']} phases={m.get('phase_sec')}")
        return not m.get("done")

    try:
        t = time.monotonic()
        eng.init_from_seeds(seeds_df)
        ctx.log(f"init_from_seeds {time.monotonic() - t:.2f}s")
        ok = all(one_step() for _ in range(WARMUP_ITERS))
        setup_s = time.monotonic() - ctx.t0
        ctx.log(f"warm-up iteration {iters[-1]['wall'] if iters else 0:.2f}s, "
                f"set-up {setup_s:.2f}s")

        # ---- timed iterations
        cpu0, steal0 = procstat.tree_cpu_s(), procstat.steal_jiffies()
        t_start = time.monotonic()
        while (ok and len(iters) < MAX_ITERS
               and time.monotonic() - t_start < ctx.seconds):
            ok = one_step()
        timed_wall = time.monotonic() - t_start
        cpu = procstat.tree_cpu_s() - cpu0
        steal = procstat.steal_frac(steal0, procstat.steal_jiffies())
    finally:
        spans.restore()
    ctx.log(f"timed window {timed_wall:.2f}s")
    timed = iters[WARMUP_ITERS:]
    admitted = sum(it["m"]["admitted"] for it in timed)
    if not timed or admitted == 0:
        failed_iters.add(len(iters) + 1)

    # ---- output checks (outside the timed window)
    rng = random.Random(ctx.seed)
    crawled = eng.crawled_df().select("crawl_iter", "url").toPandas()
    visits = crawled.groupby("crawl_iter")["url"].apply(list).to_dict()
    ck = eng.last_checkpoint()
    seen = eng.seen_df(ck["iter"], ck.get("seen_compact")).select("url")
    seen_digest = url_set_digest(seen.toPandas()["url"])
    bad_results = check_results(
        eng, sorted(crawled["url"]), shape, rng) if len(crawled) else []
    for u in bad_results:
        failed_iters.add(int(crawled.loc[crawled["url"] == u, "crawl_iter"].iloc[0]))

    layer = _state_layers(state_dir, timed, admitted)
    if ctx.trace:
        combined = (spark.read.parquet(os.path.join(state_dir, "combined"))
                    .filter(F.col("iter").isin([it["k"] for it in timed]))
                    .groupBy("kind").count().collect())
        kinds = {r["kind"]: r["count"] for r in combined}
    ctx.stop_spark()

    shape_key = hashlib.blake2b(repr(shape).encode(), digest_size=6).hexdigest()
    t = time.monotonic()
    sim = simulate(shape, seeds, len(iters),
                   os.path.join(ctx.cache_dir,
                                f"sim_{workload}_{shape_key}_{ctx.seed}.json"))
    ctx.log(f"simulator {time.monotonic() - t:.2f}s")
    for it, want in zip(iters, sim):
        got = url_set_digest(visits.get(it["k"], []))
        if list(got) != list(want["visit"]):
            ctx.log(f"iteration {it['k']}: visit set {got} != simulator "
                    f"{want['visit']}")
            failed_iters.add(it["k"])
    if iters and list(seen_digest) != list(sim[len(iters) - 1]["seen"]):
        ctx.log(f"final seen set {seen_digest} != simulator "
                f"{sim[len(iters) - 1]['seen']}")
        failed_iters.add(iters[-1]["k"])
    if bad_results:
        ctx.log(f"results_df differs from the oracle for {bad_results[:3]}")

    attempted = len(iters) + len(failed_iters - {it["k"] for it in iters})
    failed = len(failed_iters)
    units = admitted / 1000.0
    e2e = {
        "setup_s": setup_s,
        "wall_s_per_unit": timed_wall / units if units else float("nan"),
        "cpu_s_per_unit": cpu / units if units else float("nan"),
    }
    summary = [
        ("timed_iters", len(timed), "count"),
        ("admitted", admitted, "URLs"),
        ("crawl_urls_per_s", admitted / timed_wall if timed_wall else 0.0,
         "URLs/s"),
        ("crawl_cpu_s_per_1k_urls", e2e["cpu_s_per_unit"], "CPU-s/1kURL"),
        ("state_mb_per_1k_urls", layer["state.mb_per_1k_urls"], "MB/1kURL"),
    ]
    if ctx.trace:
        pages = sum(it["m"]["fetched"] for it in timed)
        layer.update(_trace_layers(ctx, timed, spans, pages, kinds))
        replay_urls = rng.sample(
            sorted(u for it in timed for u in visits.get(it["k"], [])),
            min(REPLAY_SAMPLE, pages))
        sub = replay_fused_pass(replay_urls, shape.n_urls)
        for name, v in sub.items():
            layer[f"fetch_extract.{name}_ms"] = v
        fx_task_s = layer.pop("_fetch_extract_task_s_total")
        layer["fetch_extract.unattributed_frac"] = (
            1.0 - sum(sub.values()) * pages / 1000.0 / fx_task_s
            if fx_task_s else 0.0)
    return {"e2e": e2e, "layer": layer, "attempted": attempted,
            "failed": failed, "summary": summary, "steal_frac": steal}


def _state_layers(state_dir: str, timed: list[dict],
                  admitted: int) -> dict[str, float]:
    """Bytes the timed iterations wrote under the state dir, by area."""
    def p(*parts):
        return os.path.join(state_dir, *parts)

    mb = {"combined": 0.0, "frontier": 0.0, "seen": 0.0, "tomb": 0.0,
          "bloom": 0.0}
    for it in timed:
        k = it["k"]
        mb["combined"] += du_mb(p("combined", f"iter={k:06d}"))
        mb["frontier"] += du_mb(p("frontier", f"log_v{k:06d}"),
                                p("frontier", f"base_v{k:06d}"))
        mb["tomb"] += du_mb(p("frontier", f"log_v{k:06d}", "kind=tomb"))
        mb["seen"] += du_mb(p("seen", f"iter={k:06d}"),
                            p("seen", f"compact_{k:06d}"))
        mb["bloom"] += du_mb(p("bloom", f"v{k:06d}"),
                             p("bloom", f"v{k:06d}_rebuild"))
    n = len(timed) or 1
    total = sum(v for a, v in mb.items() if a != "tomb")
    return {
        "state.combined_mb": mb["combined"] / n,
        "state.frontier_mb": mb["frontier"] / n,
        "state.seen_mb": mb["seen"] / n,
        "state.tomb_mb": mb["tomb"] / n,
        "bloom.shards_mb": mb["bloom"] / n,
        "state.mb_per_1k_urls": total / (admitted / 1000.0) if admitted else 0.0,
    }


def _trace_layers(ctx, timed: list[dict], spans: Spans, pages: int,
                  kinds: dict) -> dict[str, float]:
    log = eventlog.EventLog.read(ctx.event_dir)
    windows = []
    for it in timed:
        for phase, a, b in phase_windows(it["start"], it["wall"],
                                         it["m"].get("phase_sec", {})):
            windows.append((f"{it['k']}:{phase}", a, b))
    usage = log.usage(eventlog.window_bucket(windows))
    t_first = timed[0]["start"] if timed else 0.0
    t_last = timed[-1]["start"] + timed[-1]["wall"] if timed else 0.0
    in_window = [j for j in log.jobs.values() if t_first <= j.submit_s < t_last]
    bucketed = sum(u.jobs for u in usage.values())
    out: dict[str, float] = {"trace.unbucketed_jobs": len(in_window) - bucketed}
    n = len(timed) or 1

    def med(vals):
        return statistics.median(vals) if vals else 0.0

    for phase in PHASES:
        walls, task, jobs, busy, shuf = [], [], [], [], []
        for it in timed:
            wall = sum(b - a for p_, a, b in phase_windows(
                it["start"], it["wall"], it["m"].get("phase_sec", {}))
                if p_ == phase)
            u = usage.get(f"{it['k']}:{phase}", eventlog.Usage())
            walls.append(wall)
            task.append(u.task_s)
            jobs.append(u.jobs)
            busy.append(u.task_s / (wall * ctx.cores) if wall > 0 else 0.0)
            shuf.append(u.shuffle_mb)
        out[f"scheduler.{phase}_s"] = med(walls)
        out[f"scheduler.{phase}.task_s"] = med(task)
        out[f"scheduler.{phase}.jobs"] = med(jobs)
        out[f"scheduler.{phase}.busy_frac"] = med(busy)
        out[f"scheduler.{phase}.shuffle_mb"] = med(shuf)
    out["_fetch_extract_task_s_total"] = sum(
        u.task_s for b, u in usage.items() if b.endswith(":fetch_extract"))
    tot = eventlog.total(usage.values())
    out["spark.spill_mb"] = tot.spill_mb
    out["spark.gc_s"] = tot.gc_s
    out["spark.python_mb_sent"] = tot.python_sent_mb
    out["spark.failed_tasks"] = tot.failed_tasks
    admitted = sum(it["m"]["admitted"] for it in timed)
    new = sum(it["m"].get("new_urls", 0) for it in timed)
    out["politeness.admitted_per_iter"] = admitted / n
    out["generator.link_rows_per_page"] = kinds.get("link", 0) / pages if pages else 0.0
    out["generator.result_rows_per_page"] = kinds.get("result", 0) / pages if pages else 0.0
    out["bloom.new_per_link_row"] = new / kinds["link"] if kinds.get("link") else 0.0
    out["bloom.merge_shards_s"] = spans.seconds("bloom.merge_shards", t_first, t_last) / n
    out["bloom.build_shards_s"] = spans.seconds("bloom.build_shards", t_first, t_last) / n
    out["statelog.commit_s"] = spans.seconds("statelog.commit", t_first, t_last) / n
    return out
