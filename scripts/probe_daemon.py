"""Positive probe that the warmed preload daemon is serving worker forks.

Runs a mapInPandas stage whose UDF inspects its own process BEFORE
touching the engine stack: with the stock ``pyspark.daemon`` a fresh
no-reuse fork has neither ``dmp_crawler_spark.extractors.oracle`` in
``sys.modules`` nor a frozen gc generation; with
``dmp_crawler_spark.daemon_preload`` both are inherited from the daemon.
It then times one ``importlib.invalidate_caches()`` -- the call pyspark's
worker makes at the start of every task -- and counts the zip archive
directories it re-reads (``zipimport._read_directory`` calls): 0 on
CPython < 3.13 while the daemon's stat-gated invalidation is installed
and no archive changed. Prints one JSON line with the per-partition
observations.

Usage (either path must report warm=True, frozen>0, zip_rereads_max=0):
  PYTHONPATH=. python scripts/probe_daemon.py            # in-process session
  "$SPARK_HOME"/bin/spark-submit --master 'local[4]' \
      --py-files dist/dmp_crawler_spark.zip scripts/probe_daemon.py
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dmp_crawler_spark.session import get_spark  # noqa: E402

# Submit-mode detection: only hand master="" to get_spark when this
# process was actually launched by spark-submit (its Py4J gateway env is
# present), not merely in a shell that once sourced spark-env (round-4
# advice: SPARK_ENV_LOADED leaks through exports and then 'A master URL
# must be set' kills a plain `python scripts/probe_daemon.py`).
# PROBE_MASTER overrides either way.
_submitted = "PYSPARK_GATEWAY_PORT" in os.environ or "SPARK_APPLICATION_ID" in os.environ
spark = get_spark(master=os.environ.get("PROBE_MASTER", "" if _submitted else None),
                  app_name="probe_daemon")


def probe(batches):
    # observe BEFORE importing anything from the engine: these can only
    # be present if the daemon preloaded them in the parent process
    import gc
    import sys as wsys

    warm = "dmp_crawler_spark.extractors.oracle" in wsys.modules
    frozen = gc.get_freeze_count()
    pid = os.getpid()
    import importlib
    import time
    import zipimport

    import pandas as pd

    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    zipimport._read_directory = counting
    t0 = time.perf_counter()
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read
    inval_ms = (time.perf_counter() - t0) * 1e3
    importers = sum(
        isinstance(f, zipimport.zipimporter)
        for f in wsys.path_importer_cache.values()
    )
    for _ in batches:
        yield pd.DataFrame({
            "warm": [warm], "frozen": [frozen], "pid": [pid],
            "zip_rereads": [len(reads)], "zip_importers": [importers],
            "invalidate_ms": [inval_ms],
        })


df = spark.range(0, 64, numPartitions=16).mapInPandas(
    probe,
    "warm boolean, frozen long, pid long, zip_rereads long, "
    "zip_importers long, invalidate_ms double",
)
rows = df.collect()
inval = sorted(r.invalidate_ms for r in rows)
out = {
    "mode": "spark-submit" if _submitted else "in-process",
    "python": "%d.%d.%d" % sys.version_info[:3],
    "workers": len({r.pid for r in rows}),
    "warm_all": all(r.warm for r in rows),
    "frozen_min": min(r.frozen for r in rows),
    "daemon_engaged": all(r.warm for r in rows) and min(r.frozen for r in rows) > 0,
    "zip_importers_max": max(r.zip_importers for r in rows),
    "zip_rereads_min": min(r.zip_rereads for r in rows),
    "zip_rereads_max": max(r.zip_rereads for r in rows),
    "invalidate_ms_median": round(inval[len(inval) // 2], 2),
    "invalidate_ms_max": round(inval[-1], 2),
}
print(json.dumps(out))
spark.stop()
