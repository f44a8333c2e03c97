"""Exact-resume equivalence at bench scale, across a REAL process boundary.

The in-process resume parity is pytest-pinned at small scale
(tests/test_frontier.py::test_fused_fetcher_resume_and_salts_parity); the
north rule claims exact resume from checkpointed per-partition lineage on
a long-lived crawl. This harness evidences it at the scaling-bench
workload with a true crash boundary: leg B runs ITERS_PRE iterations,
the PROCESS exits (JVM + Python state gone), a fresh process constructs
a new engine on the same state dir and runs the remaining iterations.
The straight-through leg A and the resumed leg B must agree on the
entire observable crawl state:

  - per-iteration visit log (crawl_iter -> set of URLs, hashed)
  - extracted results (rowkey, family, sorted cols) hash
  - pending-frontier URL set hash
  - seen-set (url_hash, url_hash2) hash

Usage:  python scripts/resume_equivalence.py [n_urls] [n_seeds] [iters] [iters_pre]
Defaults 500000 25000 4 2. Prints one JSON line with both hash sets and
"equal": true/false. Exit code 1 on mismatch.
"""
import hashlib
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_URLS = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
N_SEEDS = int(sys.argv[2]) if len(sys.argv) > 2 else 25_000
ITERS = int(sys.argv[3]) if len(sys.argv) > 3 else 4
ITERS_PRE = int(sys.argv[4]) if len(sys.argv) > 4 else 2


def _leg(state_dir: str, iters: int, init: bool) -> dict:
    """Run inside a subprocess: one engine lifetime over state_dir."""
    from pyspark.sql import functions as F

    from dmp_crawler_spark.corpus import generator, templates
    from dmp_crawler_spark.frontier.scheduler import CrawlEngine
    from dmp_crawler_spark.session import get_spark

    spark = get_spark(app_name="resume_eq")
    eng = CrawlEngine(
        spark, state_dir, generator.GeneratorFetcher(spark, N_URLS),
        generator.generate_site_rules(spark),
        per_host_budget=300, n_bloom_shards=16,
    )
    if init:
        seeds = spark.createDataFrame(
            [(templates.url_for((i * 131) % N_URLS, N_URLS), "")
             for i in range(N_SEEDS)],
            "seed string, site string",
        )
        eng.init_from_seeds(seeds)
    else:
        assert eng.last_checkpoint() is not None, "no checkpoint to resume"
    eng.run(max_iters=iters)
    if iters == 0 or eng.last_checkpoint() is None:
        return {}

    def df_hash(df, cols):
        # order-insensitive distributed hash: xor + bounded modular sum of
        # row hashes (plain sum(xxhash64) overflows long under ANSI)
        h = (df.select(F.xxhash64(*cols).alias("h"))
               .agg(F.expr("bit_xor(h)").alias("x"),
                    F.expr("sum(pmod(h, 2147483647))").alias("s"),
                    F.count("h").alias("c"))
               .collect()[0])
        return [h["x"], h["s"], h["c"]]

    k = eng.last_checkpoint()["iter"]
    out = {
        "iter": k,
        "visits": df_hash(eng.crawled_df(), ["crawl_iter", "url"]),
        "results": df_hash(
            eng.results_df().select(
                "rowkey", "family",
                F.to_json(F.map_entries("cols")).alias("colsj")),
            ["rowkey", "family", "colsj"]),
        "frontier": df_hash(eng.frontier_df(k).select("url"), ["url"]),
        "seen": df_hash(
            eng.seen_df(k, eng.last_checkpoint().get("seen_compact")),
            ["url_hash", "url_hash2"]),
    }
    print("LEGJSON:" + json.dumps(out), flush=True)
    return out


def _spawn(state_dir: str, iters: int, init: bool) -> dict:
    # re-exec this file with a mode flag via env: each leg gets its own
    # process (own JVM, own Python heap) — the crash boundary is real
    env = dict(os.environ, RESUME_EQ_MODE=json.dumps(
        {"state": state_dir, "iters": iters, "init": init,
         "n_urls": N_URLS, "n_seeds": N_SEEDS}))
    r = subprocess.run([sys.executable, os.path.abspath(__file__)],
                       env=env, capture_output=True, text=True, timeout=3000)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise RuntimeError(f"leg failed rc={r.returncode}")
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("LEGJSON:")]
    return json.loads(lines[-1][len("LEGJSON:"):]) if lines else {}


def main() -> int:
    mode = os.environ.get("RESUME_EQ_MODE")
    if mode:
        cfg = json.loads(mode)
        global N_URLS, N_SEEDS
        N_URLS, N_SEEDS = cfg["n_urls"], cfg["n_seeds"]
        _leg(cfg["state"], cfg["iters"], cfg["init"])
        return 0
    import tempfile
    base = tempfile.mkdtemp(prefix="resume_eq_")
    a = _spawn(os.path.join(base, "a"), ITERS, init=True)
    _spawn(os.path.join(base, "b"), ITERS_PRE, init=True)
    # process boundary: everything in-memory about leg B is gone here
    b = _spawn(os.path.join(base, "b"), ITERS - ITERS_PRE, init=False)
    equal = a == b and a.get("iter") == ITERS
    print(json.dumps({
        "metric": "resume_equivalence",
        "workload": {"n_urls": N_URLS, "n_seeds": N_SEEDS,
                     "iters": ITERS, "crash_after": ITERS_PRE},
        "straight": a, "resumed": b, "equal": equal,
    }))
    return 0 if equal else 1


if __name__ == "__main__":
    sys.exit(main())
