"""20-iteration crawl soak: evidence that per-iteration cost stays FLAT
as cumulative crawl state grows (seen set, LSM frontier log, bloom
shards) — the property that lets the design run a 10^10-URL frontier,
where the loop executes ~10^5 iterations and any per-iteration cost term
proportional to CUMULATIVE state (not to the iteration's own batch)
compounds into a stall.

What it measures: a GeneratorFetcher crawl over a 2M-URL corpus for 20
iterations with a GLOBAL admission budget, so every iteration admits the
same-size batch (a first, unbudgeted probe run let the Zipf tail drain
the per-host queues, shrinking batches 172k -> 12k and conflating
fixed-overhead amortization with state growth — the constant-batch run is
the controlled experiment). Reported per iteration: admitted rows,
elapsed seconds, normalized cost (ms per admitted URL), per-phase split.
The headline statistic is drift = mean(ms/url over last 5 steady iters) /
mean(ms/url over first 5 steady iters): flat ⇒ ~1.0 while cumulative
state (seen set, frontier log, fetch spill) grows ~20× — any
per-iteration term proportional to CUMULATIVE state would show as a
rising trend. Sandbox co-tenant steal adds noise; the BENCH/BASELINE.md
§2b variance band applies, so per-iteration steal is sampled too.

Usage:  PYTHONPATH=/root/repo python scripts/soak_crawl.py
Output: one JSON line; also written to BENCH/soak_20iter.json.

Env knobs: SOAK_URLS (2000000), SOAK_SEEDS (5000), SOAK_BUDGET (500),
SOAK_GLOBAL (40000), SOAK_ITERS (20), SOAK_CPUS (32).

Gate-crossing mode (round-3 verdict item 6): SOAK_LSM_GATE lowers
lsm_min_frontier so pending crosses it mid-soak and the LSM delta/
tombstone path engages in a LIVE crawl (the default 10M gate would need
~10^7 pending rows — beyond this sandbox's disk/time budget; the gate
VALUE comes from the committed crossover probes, this soak evidences the
CROSSING behavior: per-iteration mode is recorded and per-URL cost must
stay flat through it). SOAK_OUT overrides the BENCH output filename.

Round-5 knobs (default-gate 10M+ soak, round-4 verdict items 2+6):
  SOAK_STATE    fixed state dir (default: fresh tempdir). Lets a second
                process resume the same crawl.
  SOAK_RESUME=1 resume from SOAK_STATE's last checkpoint instead of
                re-seeding — a REAL process-boundary resume mid-soak.
  SOAK_PRUNE=1  after each iteration, delete combined/ page-landing dirs
                older than the previous iteration. The kind=page text is
                ~97% of the soak's bytes and at 10M+ crawled would blow
                the sandbox disk; in production those rows land in the
                Iceberg pages table (external storage), not the engine
                state dir, so pruning models the real layout. The
                crawl log (crawled_df, the spill's page slice) and
                results_df go with them; the soak reads neither.
                Frontier / seen / bloom / checkpoints — the actual resume
                state — are never touched.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_URLS = int(os.environ.get("SOAK_URLS", "2000000"))
N_SEEDS = int(os.environ.get("SOAK_SEEDS", "5000"))
BUDGET = int(os.environ.get("SOAK_BUDGET", "500"))
GLOBAL = int(os.environ.get("SOAK_GLOBAL", "40000"))
ITERS = int(os.environ.get("SOAK_ITERS", "20"))
CPUS = os.environ.get("SOAK_CPUS", "32")
LSM_GATE = os.environ.get("SOAK_LSM_GATE")  # rows; None = engine default
OUT_NAME = os.environ.get("SOAK_OUT", "soak_20iter.json")
STATE_DIR = os.environ.get("SOAK_STATE")  # None = fresh tempdir
RESUME = os.environ.get("SOAK_RESUME", "0") == "1"
PRUNE = os.environ.get("SOAK_PRUNE", "0") == "1"


def main() -> None:
    from dmp_crawler_spark.corpus import generator, templates
    from dmp_crawler_spark.frontier.scheduler import CrawlEngine
    from dmp_crawler_spark.session import get_spark

    spark = get_spark(master=f"local[{CPUS}]", app_name="soak")
    seeds = spark.createDataFrame(
        [(templates.url_for((i * 131) % N_URLS, N_URLS), "")
         for i in range(N_SEEDS)],
        "seed string, site string",
    )
    state = STATE_DIR or os.path.join(tempfile.mkdtemp(prefix="soak_"), "state")
    kw = {}
    if LSM_GATE is not None:
        kw["lsm_min_frontier"] = int(LSM_GATE)
    eng = CrawlEngine(
        spark, state,
        generator.GeneratorFetcher(spark, N_URLS),
        generator.generate_site_rules(spark),
        per_host_budget=BUDGET, global_budget=GLOBAL, n_bloom_shards=16,
        **kw,
    )
    resumed_from = None
    if RESUME and eng.last_checkpoint() is not None:
        resumed_from = eng.last_checkpoint()["iter"]
        print(f"# resuming from checkpoint iter={resumed_from}", file=sys.stderr)
    else:
        eng.init_from_seeds(seeds)

    from bench import _cpu_steal_jiffies

    iters = []
    crawled_total = (
        eng.last_checkpoint().get("pages_crawled_total", 0) if resumed_from else 0
    )
    for i in range(ITERS):
        # constant-batch metering: global_budget is cumulative (reference
        # setMaxPagesToFetch semantics), so raise it by the per-iteration
        # quantum each step — every iteration admits exactly GLOBAL rows
        # while pending cover lasts
        eng.global_budget = crawled_total + GLOBAL
        # mode this iteration will run in (same pending-count test step()
        # makes): fold below the LSM gate, delta/tombstone log at/above it
        ck = eng.last_checkpoint()
        pending_before = sum(ck.get("frontier_shards", {}).values())
        mode = "lsm" if pending_before >= eng.lsm_min_frontier else "fold"
        s0, j0 = _cpu_steal_jiffies()
        t0 = time.monotonic()
        m = eng.step()
        sec = time.monotonic() - t0
        s1, j1 = _cpu_steal_jiffies()
        admitted = m.get("admitted", 0)
        crawled_total += admitted
        k_now = eng.last_checkpoint()["iter"]
        if PRUNE:
            # page landings older than the just-finished iteration model
            # external (Iceberg) storage — see module docstring. Resume
            # state (frontier/seen/bloom/checkpoints) is never pruned.
            import shutil
            cdir = os.path.join(state, "combined")
            if os.path.isdir(cdir):
                for name in os.listdir(cdir):
                    if name.startswith("iter=") and int(name.split("=")[1]) < k_now:
                        shutil.rmtree(os.path.join(cdir, name), ignore_errors=True)
        iters.append({
            "iter": i,
            "engine_iter": k_now,
            "mode": mode,
            "pending_before": pending_before,
            "admitted": admitted,
            "elapsed_sec": round(sec, 3),
            "ms_per_url": round(1000.0 * sec / admitted, 3) if admitted else None,
            "frontier_size": m.get("frontier_size"),
            "steal_pct": round(100.0 * (s1 - s0) / (j1 - j0), 1) if j1 > j0 else None,
            "phase_sec": m.get("phase_sec", {}),
        })
        print(f"# iter {i}: mode={mode} pending={pending_before} "
              f"admitted={admitted} sec={sec:.2f} "
              f"ms/url={iters[-1]['ms_per_url']} "
              f"steal={iters[-1]['steal_pct']}%", file=sys.stderr)
        if m.get("done"):
            break

    # drift: last-5 vs first-5 normalized cost over the steady window
    # (skip iter 0 — JVM codegen + Python worker pool warmup)
    steady = [it for it in iters[1:] if it["ms_per_url"]]
    head = steady[:5]
    tail = steady[-5:]
    mean = lambda xs: sum(xs) / len(xs) if xs else None  # noqa: E731
    head_ms = mean([it["ms_per_url"] for it in head])
    tail_ms = mean([it["ms_per_url"] for it in tail])
    drift = round(tail_ms / head_ms, 3) if head_ms and tail_ms else None

    out = {
        "metric": "soak_ms_per_url_drift_last5_over_first5",
        "value": drift,
        "unit": "ratio",
        "iters_run": len(iters),
        "total_admitted": sum(it["admitted"] for it in iters),
        "total_sec": round(sum(it["elapsed_sec"] for it in iters), 2),
        "head_ms_per_url": round(head_ms, 3) if head_ms else None,
        "tail_ms_per_url": round(tail_ms, 3) if tail_ms else None,
        "workload": {"SOAK_URLS": N_URLS, "SOAK_SEEDS": N_SEEDS,
                     "SOAK_BUDGET": BUDGET, "SOAK_GLOBAL": GLOBAL,
                     "SOAK_ITERS": ITERS, "SOAK_CPUS": CPUS,
                     "SOAK_LSM_GATE": LSM_GATE, "SOAK_STATE": STATE_DIR,
                     "SOAK_RESUME": RESUME, "SOAK_PRUNE": PRUNE},
        "resumed_from_iter": resumed_from,
        "modes": {m: sum(1 for it in iters if it["mode"] == m)
                  for m in ("fold", "lsm")},
        "per_iter": iters,
    }
    line = json.dumps(out)
    print(line)
    bench_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, OUT_NAME), "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
