"""Benchmark of the crawl engine and the curation queries.

Usage, from the root of a checkout:

    python3 benchmark/run.py --workload crawl_frontier_heavy --seed 1 \
        --seconds 5 --trace 0 [--cores 4] [--driver-memory 3g]

Workloads: crawl_fetch_heavy, crawl_frontier_heavy (benchmark/crawl.py)
and curation_suite (benchmark/suite.py). Each is a closed loop driven from
this one process at local[cores]; the seed draws the crawl seed URLs or
permutes the query order, and the program sees only those inputs.

With --trace 0 the run measures the end-to-end metrics named in
BENCHMARK.json. With --trace 1 it also writes a Spark event log and wraps
the engine's eager calls, and reports the per-layer metrics instead; its
trace.wall_s_per_unit and trace.cpu_s_per_unit against the untraced run's
figures give the tracing overhead. A work unit is 1k admitted URLs for a
crawl and one pass over the queries for the suite.

Outputs are checked against the single-process references (frontier
simulator, extractor oracle, DuckDB replays); an iteration or query that
raises or fails its check counts as failed. The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}. Scratch
files live under benchmark/.work and are removed at exit; reference
digests are cached under benchmark/.cache.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_fetch_heavy", "crawl_frontier_heavy", "curation_suite")


class Context:
    """What a workload needs from the harness: the session, the run's
    parameters and its scratch directories."""

    def __init__(self, args):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = args.cores
        self.t0 = T0
        self.work_dir = os.path.join(
            HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.cache_dir = os.path.join(HERE, ".cache")
        self.event_dir = os.path.join(self.work_dir, "events")
        self.sf_dir = os.path.join(HERE, "data", "sf0.01")
        self.spark = None

    def log(self, msg: str) -> None:
        print(f"[benchmark] {msg}", file=sys.stderr, flush=True)

    def start_spark(self, workload: str, driver_memory: str) -> None:
        tmp = os.path.join(self.work_dir, "tmp")
        for d in (tmp, self.event_dir):
            os.makedirs(d, exist_ok=True)
        # keep every scratch file of the JVM and the Python workers in the
        # work dir: no shuffle files on /dev/shm, no JVM temp files in /tmp
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_GRAFT_SHM"] = "0"
        os.environ["SPARK_DRIVER_MEM"] = driver_memory
        conf = {
            "spark.local.dir": os.path.join(self.work_dir, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from dmp_crawler_spark.session import get_spark

        self.spark = get_spark(master=f"local[{self.cores}]",
                               app_name=f"benchmark-{workload}",
                               extra_conf=conf)
        self.log(f"session up at {time.monotonic() - self.t0:.2f}s")

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        daemon) to exit; the event log is complete afterwards."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int,
                    default=len(os.sched_getaffinity(0)))  # as nproc
    ap.add_argument("--driver-memory", default="3g")
    args = ap.parse_args()

    contract = load_contract()
    sys.path.insert(0, ROOT)
    import procstat

    if args.workload == "curation_suite":
        import suite as workload_mod
    else:
        import crawl as workload_mod

    ctx = Context(args)
    try:
        with procstat.RssSampler() as rss:
            ctx.start_spark(args.workload, args.driver_memory)
            res = workload_mod.run(ctx, args.workload)
            ctx.stop_spark()
    finally:
        ctx.stop_spark()
        shutil.rmtree(ctx.work_dir, ignore_errors=True)

    e2e = res["e2e"]
    layer = dict(res["layer"])
    layer["session.peak_rss_mb"] = rss.peak_mb
    attempted, failed = res["attempted"], res["failed"]
    layer["failed_ops_frac"] = failed / attempted if attempted else 1.0
    if args.trace:
        layer["trace.wall_s_per_unit"] = e2e["wall_s_per_unit"]
        layer["trace.cpu_s_per_unit"] = e2e["cpu_s_per_unit"]
        layer["trace.steal_frac"] = res["steal_frac"]
    spec = contract["per_layer"] if args.trace else contract["end_to_end"]
    values = layer if args.trace else e2e
    unknown = set(values) - {m["name"] for m in spec}
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    correct = failed == 0
    for m in spec:
        v = float(values.get(m["name"], 0.0))
        if not math.isfinite(v):
            correct, v = False, 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    summary = [("setup_s", e2e["setup_s"], "s"), *res["summary"],
               ("peak_rss_mb", rss.peak_mb, "MB"),
               ("failed_ops_frac", layer["failed_ops_frac"], "ratio"),
               ("steal_frac", res["steal_frac"], "ratio")]
    print(f"{args.workload} seed={args.seed} trace={args.trace}: " + ", ".join(
        f"{name}={v:.4g} {unit}" for name, v, unit in summary))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
