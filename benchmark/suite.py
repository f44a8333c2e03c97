"""The curation-suite workload: the 34 bench queries of ``__spark_entry__``.

Every query is materialized to the noop sink, so it runs in full with no
collect. Set-up runs one warm-up pass that collects every result and
compares it with the query's ``oracle_sql()`` replay in DuckDB; the
replay's digests are cached in the benchmark's cache directory, since the
tables never change. ``simhash_pairs_default`` (the production xxhash64
simhash) has no oracle, so only its row count is checked, against the
count it returns on the vendored tables.
The warm-up pass runs its queries on a few threads: it compiles and warms
the same plans the timed passes run, in less wall time.

The timed passes run the queries one at a time in an order the workload
seed permutes, until ``seconds`` have passed. One client keeps a query's
time its own: with four, a pass's wall time and CPU moved with the order
and with JIT compilation landing in it, about twice as much from run to
run.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import eventlog
import procstat

# the bench queries; a name maps to a queries() entry or, through
# OVERRIDES, to another function of __spark_entry__
QUERIES = [
    "q1_pricing_summary", "j1_anti_join_seen", "j3_broadcast_lookup",
    "j4_enrichment_join", "w1_priority_ranking", "a2_collect_set_str",
    "c14_md5_dedup", "token_counts", "quality_score", "dedup_exact_norm",
    "lang_id", "ann_topk", "event_hourly", "event_gaps", "event_sessionize",
    "f3_regex_taxonomy", "fingerprint_dedup", "minhash_pairs",
    "simhash_pairs", "simhash_pairs_oracle", "ngram_jaccard", "corpus_clean",
    "repetition_filter", "line_dedup_clean", "pii_scrub_clean",
    "corpus_clean_v2", "decontaminate_bench", "domain_mix_audit",
    "pack_sequences", "unigram_ppl", "shuffle_shards", "wav_decode_stats",
    "bmp_resize_stats", "assemble_training",
]
# bench name -> entry-module name; "simhash_pairs" is the production
# xxhash64 path, "simhash_pairs_oracle" the md5 variant with an oracle
OVERRIDES = {
    "simhash_pairs": "simhash_pairs_default",
    "simhash_pairs_oracle": "simhash_pairs",
}
# bench name -> expected row count on data/sf0.01, for a query without
# an oracle
ROW_COUNT_ONLY = {"simhash_pairs": 17}
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
WARMUP_THREADS = 8


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def digest(pdf) -> dict:
    """Order-insensitive digest of a result frame: columns sorted by
    name, cells stringified (floats to 9 significant digits), rows
    sorted."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(tuple(_cell(v) for v in r) for r in pdf.itertuples(index=False))
    h = hashlib.sha256(json.dumps([list(pdf.columns), rows]).encode())
    return {"rows": len(rows), "digest": h.hexdigest()}


def oracle_digests(entrymod, sf_dir: str, cache_path: str) -> dict:
    """{oracle name: digest} of the DuckDB replays. Digests are stored
    under the hash of the replay's SQL, so an edited oracle is replayed
    again: those of the vendored tables ship beside them, and any other
    is computed once and cached in the cache directory."""
    sqls = entrymod.oracle_sql()
    names = sorted({OVERRIDES.get(q, q) for q in QUERIES} & set(sqls))
    key = {n: hashlib.sha256(sqls[n].encode()).hexdigest() for n in names}
    known: dict = {}
    for path in (f"{sf_dir}_oracles.json", cache_path):
        if os.path.exists(path):
            with open(path) as f:
                known.update(json.load(f))
    missing = [n for n in names if key[n] not in known]
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t)}.parquet'")
            cached = {key[n]: digest(con.sql(sqls[n]).df()) for n in missing}
        finally:
            con.close()
        if os.path.exists(cache_path):
            with open(cache_path) as f:
                cached.update(json.load(f))
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=0, sort_keys=True)
        os.replace(tmp, cache_path)
        known.update(cached)
    return {n: known[key[n]] for n in names}


def run(ctx, workload: str) -> dict:
    import __spark_entry__ as entrymod

    spark = ctx.spark
    sc = spark.sparkContext
    sf_dir = ctx.sf_dir
    t_cache = time.monotonic()
    oracles = oracle_digests(entrymod, sf_dir, os.path.join(
        ctx.cache_dir, f"{os.path.basename(sf_dir)}_oracles.json"))
    cache_fill_s = time.monotonic() - t_cache
    qs = entrymod.queries()

    def frame(name):
        target = OVERRIDES.get(name, name)
        fn = qs.get(target) or getattr(entrymod, target)
        return fn(spark, sf_dir)

    # ---- set-up: warm-up pass with output checks
    failures: list[str] = []

    def check(name: str) -> str | None:
        try:
            got = digest(frame(name).toPandas())
        except Exception as e:  # a raising query is a failed op
            return f"{name} raised {e!r}"
        if name in ROW_COUNT_ONLY:
            want = ROW_COUNT_ONLY[name]
            return None if got["rows"] == want else \
                f"{name}: {got['rows']} rows, want {want}"
        want = oracles.get(OVERRIDES.get(name, name))
        if want is None:
            return f"{name}: no oracle"
        return None if got == want else f"{name}: {got} != oracle {want}"

    # the slow queries sit late in QUERIES; starting them first shortens
    # the pass's tail
    with ThreadPoolExecutor(WARMUP_THREADS) as pool:
        failures += [r for r in pool.map(check, QUERIES[::-1]) if r]
    setup_s = time.monotonic() - ctx.t0 - cache_fill_s

    # ---- timed passes
    order = list(QUERIES)
    random.Random(ctx.seed).shuffle(order)

    def timed(name: str) -> float:
        if ctx.trace:
            sc.setJobGroup(name, name)
        t0 = time.monotonic()
        try:
            frame(name).write.format("noop").mode("overwrite").save()
        except Exception as e:  # a raising query is a failed op
            failures.append(f"{name} raised {e!r}")
        return time.monotonic() - t0

    passes: list[dict[str, float]] = []
    cpu0, steal0 = procstat.tree_cpu_s(), procstat.steal_jiffies()
    t_start = time.monotonic()
    while not passes or time.monotonic() - t_start < ctx.seconds:
        passes.append({name: timed(name) for name in order})
        ctx.log(f"pass {len(passes)}: {sum(passes[-1].values()):.2f}s")
    cpu = procstat.tree_cpu_s() - cpu0
    steal = procstat.steal_frac(steal0, procstat.steal_jiffies())
    ctx.stop_spark()
    for f in failures:
        ctx.log(f)

    suite_s = statistics.median(sum(p.values()) for p in passes)
    e2e = {"setup_s": setup_s, "wall_s_per_unit": suite_s,
           "cpu_s_per_unit": cpu / len(passes)}
    layer: dict[str, float] = {}
    if ctx.trace:
        for name in QUERIES:
            layer[f"query.{name}_s"] = statistics.median(
                p[name] for p in passes)
        log = eventlog.EventLog.read(ctx.event_dir)
        usage = log.usage(lambda j: j.group if j.group in QUERIES else None)
        tot = eventlog.total(usage.values())
        layer["suite.jobs"] = tot.jobs / len(passes)
        layer["suite.shuffle_mb"] = tot.shuffle_mb / len(passes)
        layer["spark.spill_mb"] = tot.spill_mb / len(passes)
        layer["spark.gc_s"] = tot.gc_s / len(passes)
        layer["spark.python_mb_sent"] = tot.python_sent_mb / len(passes)
        layer["spark.failed_tasks"] = tot.failed_tasks
        failures += [f"{g}: {u.failed_jobs} failed Spark jobs"
                     for g, u in usage.items() if u.failed_jobs]
    attempted = len(QUERIES) * (1 + len(passes))
    return {"e2e": e2e, "layer": layer, "attempted": attempted,
            "failed": len(failures), "steal_frac": steal,
            "summary": [("passes", len(passes), "count"),
                        ("suite_s", suite_s, "s"),
                        ("suite_cpu_s", e2e["cpu_s_per_unit"], "CPU-s")]}
