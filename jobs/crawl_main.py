"""spark-submit entry point for the crawl engine.

Usage:
  scripts/package.sh                        # builds dist/dmp_crawler_spark.zip
  spark-submit --py-files dist/dmp_crawler_spark.zip jobs/crawl_main.py \
      --corpus /path/pages --state /path/state --iters 5 \
      [--n-urls 20000] [--seeds 64] [--per-host-budget 50] [--robots]

If --corpus doesn't exist and --n-urls is given, the synthetic corpus is
generated first (distributed). Prints one JSON metrics line per iteration
and a final summary line (urls/sec) — the cluster-mode analog of bench.py.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--state", required=True)
    ap.add_argument("--iters", type=int, default=5)
    ap.add_argument("--n-urls", type=int, default=20000)
    ap.add_argument("--seeds", type=int, default=64)
    ap.add_argument("--per-host-budget", type=int, default=50)
    ap.add_argument("--global-budget", type=int, default=None)
    ap.add_argument("--bloom-shards", type=int, default=64)
    ap.add_argument("--robots", action="store_true")
    ap.add_argument("--gen-fetch", action="store_true",
                    help="fused GeneratorFetcher (per-URL fetch cost, no corpus scan)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from dmp_crawler_spark.corpus import generator, templates
    from dmp_crawler_spark.frontier.scheduler import CorpusFetcher, CrawlEngine
    from dmp_crawler_spark.session import get_spark

    # master="" → spark-submit owns master/deploy-mode but every engine
    # conf (AQE, Arrow batching, no-reuse + preload-daemon workers §2o)
    # still applies — the deployment path must not silently run with
    # stock worker config. getOrCreate() silently ignores builder confs
    # when a session already exists in this process, which would void
    # that guarantee — make the degraded case loud (round-4 advice).
    spark = get_spark(master=args.master or "", app_name="crawl_main")
    conf = spark.conf
    if (
        conf.get("spark.python.worker.reuse", "true") != "false"
        or conf.get("spark.python.daemon.module", "")
        != "dmp_crawler_spark.daemon_preload"
    ):
        print(
            json.dumps({
                "warning": "engine worker config missing — a pre-existing "
                           "SparkSession swallowed the builder confs; "
                           "expect reused-worker stalls (§2o)",
                "spark.python.worker.reuse":
                    conf.get("spark.python.worker.reuse", "true"),
                "spark.python.daemon.module":
                    conf.get("spark.python.daemon.module", ""),
            }),
            file=sys.stderr,
        )

    if not args.gen_fetch and not os.path.exists(os.path.join(args.corpus, "_SUCCESS")):
        generator.write_pages(spark, args.n_urls, args.corpus)

    seeds = spark.createDataFrame(
        [(templates.url_for(i * 131 % args.n_urls, args.n_urls), "")
         for i in range(args.seeds)],
        "seed string, site string",
    )
    fetcher = (generator.GeneratorFetcher(spark, args.n_urls) if args.gen_fetch
               else CorpusFetcher(spark, args.corpus))
    eng = CrawlEngine(
        spark, args.state, fetcher,
        generator.generate_site_rules(spark),
        robots=generator.generate_robots(spark, args.n_urls) if args.robots else None,
        respect_robots=args.robots,
        per_host_budget=args.per_host_budget,
        global_budget=args.global_budget,
        n_bloom_shards=args.bloom_shards,
    )
    t0 = time.monotonic()
    if eng.last_checkpoint() is None:
        eng.init_from_seeds(seeds)
    metrics = eng.run(max_iters=args.iters)
    elapsed = time.monotonic() - t0
    for m in metrics:
        print(json.dumps({"iteration_metrics": m}))
    crawled = sum(m.get("admitted", 0) for m in metrics)
    print(json.dumps({
        "metric": "crawl_urls_per_sec",
        "value": round(crawled / elapsed, 2),
        "urls": crawled,
        "elapsed_sec": round(elapsed, 2),
    }))


if __name__ == "__main__":
    sys.exit(main())
