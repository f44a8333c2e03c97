"""Python-worker daemon that pre-imports the heavy per-task stack.

With ``spark.python.worker.reuse=false`` (required on this Spark 4.1
build: the reused-worker handoff intermittently loses its wakeup under
high local concurrency — see ``session.py`` and BENCH/BASELINE.md §2o)
every task runs in a fresh fork of the Python daemon. A bare
``pyspark.daemon`` only has ``pyspark.worker`` imported, so each task
re-imports pandas / pyarrow / the extractor stack (~2 s of CPU) on first
UDF deserialization. Measured on the 2M-URL crawl at local[8], that
re-import tax cost ~30% of steady throughput (5,101 → 3,560 URLs/s).

This module is pointed at by ``spark.python.daemon.module``: it imports
the heavy modules ONCE in the daemon process, exercises the hot
first-call paths (pandas block construction, Arrow <-> pandas round-trip,
one extractor pass) so lazily-built dispatch caches exist before the
fork, then runs the stock ``pyspark.daemon`` manager loop. Every forked
worker inherits the warm modules + caches copy-on-write, so no-reuse
mode pays neither the stall nor the import/warmup tax. ``gc.freeze()``
moves the preloaded heap into the permanent generation so forked
children's first collections don't copy-on-write every inherited page.
Imports that are unavailable in a given deployment degrade silently —
the daemon must come up no matter what, and the worker will fall back
to importing on demand.

The fork is not the whole per-task cost. Every task also runs
``importlib.invalidate_caches()`` (pyspark ``worker_util.setup_spark_files``),
and before CPython 3.13 that makes each inherited ``zipimporter`` re-read
its archive's whole central directory: two importers on the Spark core
jar (5,359 entries, ~40 ms a read) and a dozen on ``pyspark.zip``
(1,328 entries, ~10 ms). Measured in live workers that is 160-210 ms
per task before the first row (BENCH/BASELINE.md §2x). On those versions this
module makes the re-read conditional on the archive having changed since
its last read (see ``_stat_gated_zip_invalidation``); 3.13 made the
re-read lazy itself, so there it installs nothing.

Fork-safety: none of the preloaded modules starts live threads at import
time (pyarrow's CPU/IO pools and pandas' BLAS pools are lazy / register
atfork handlers), which is the same contract the stock reused-worker
path relies on when it forks after a first task has imported them.
"""

from __future__ import annotations

import sys

for _mod in (
    # the per-task heavy hitters, in dependency order
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.pandas_compat",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    # this engine's worker-side stack (fused fetch/extract, html mini-DOM,
    # corpus generator used by the bench fetcher)
    "dmp_crawler_spark.extractors.htmlmini",
    "dmp_crawler_spark.extractors.udfs",
    "dmp_crawler_spark.extractors.oracle",
    "dmp_crawler_spark.corpus.templates",
    "dmp_crawler_spark.corpus.generator",
):
    try:  # pragma: no cover - exercised via the live daemon, not pytest
        __import__(_mod)
    except Exception:
        pass


def _stat_gated_zip_invalidation() -> None:
    """Re-read a zip archive's directory only when the archive changed.

    Replaces ``zipimporter.invalidate_caches`` (eager on CPython < 3.13)
    with one that stats the archive and re-reads it only when its
    ``(st_mtime_ns, st_size)`` differs from the stamp taken before its
    last read, so an unchanged jar or zip costs one ``stat`` per task
    while a replaced ``--py-files`` zip is still picked up. Importers
    sharing an archive (one per package directory inside it) adopt the
    directory their sibling last read. Every importer the daemon already
    holds is stamped here, before the fork, so no worker pays a first
    read for them.
    """
    import os
    import zipimport

    eager = zipimport.zipimporter.invalidate_caches
    stamps: dict = {}  # archive -> (st_mtime_ns, st_size) before its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and stamps.get(self.archive) == stamp):
            self._files = files
            return
        eager(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if sys.version_info < (3, 13):
    _stat_gated_zip_invalidation()


def _warm_first_call_paths() -> None:
    """Exercise the lazily-built caches the first UDF call would pay for.

    Module import alone leaves a lot on the table: pandas builds block
    managers / dtype registries on first DataFrame construction, pyarrow
    builds its pandas-conversion dispatch on first round-trip, and the
    extractor memoizes tag/template state on first parse. Doing one tiny
    pass of each here means every forked worker starts with those caches
    already populated (copy-on-write, shared until mutated).
    """
    try:
        import pandas as pd
        import pyarrow as pa

        df = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
        tbl = pa.Table.from_pandas(df)
        tbl.to_pandas()
        pa.ipc.new_stream(pa.BufferOutputStream(), tbl.schema)
    except Exception:
        pass
    try:
        from dmp_crawler_spark.extractors import htmlmini

        htmlmini.parse("<html><body><div id='a'><p>hi</p></div></body></html>")
    except Exception:
        pass
    try:
        import gc

        gc.collect()
        gc.freeze()  # preloaded heap -> permanent generation: child GCs
        # won't trace (and so COW-fault) these pages.
    except Exception:
        pass


_warm_first_call_paths()

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
