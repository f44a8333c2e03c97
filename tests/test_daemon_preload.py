"""The worker-daemon preload module must always come up.

``spark.python.daemon.module`` points at ``dmp_crawler_spark.daemon_preload``
(see ``session.py``): if that module fails to import, EVERY Python-UDF task
in the session dies at worker launch — so the contract under test is
"importing the module never raises, leaves the heavy stack warm, and ends
with the preloaded heap frozen", in a subprocess so this test cannot be
satisfied by modules the test session itself already imported.

Before CPython 3.13 the module also keeps pyspark's per-task
``importlib.invalidate_caches()`` from re-reading every zip archive's
directory: an unchanged archive is not re-read, a rewritten one is.
"""

import json
import subprocess
import sys
import zipfile


def test_daemon_preload_imports_and_freezes():
    code = (
        "import gc, sys\n"
        "import dmp_crawler_spark.daemon_preload\n"
        "assert 'pandas' in sys.modules\n"
        "assert 'pyarrow' in sys.modules\n"
        "assert 'dmp_crawler_spark.extractors.htmlmini' in sys.modules\n"
        # gc.freeze() ran: the permanent generation holds the preloaded heap
        "assert gc.get_freeze_count() > 0\n"
        # and the daemon manager entrypoint is resolvable (not run)
        "from pyspark.daemon import manager\n"
        "print('PRELOAD_OK')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert "PRELOAD_OK" in out.stdout


# Counts zipimport directory reads across one importlib.invalidate_caches(),
# the call pyspark's worker makes at the start of every task.
_COUNT_READS = (
    "def count_reads():\n"
    "    import importlib, zipimport\n"
    "    calls = []\n"
    "    read = zipimport._read_directory\n"
    "    def counting(archive):\n"
    "        calls.append(archive)\n"
    "        return read(archive)\n"
    "    zipimport._read_directory = counting\n"
    "    try:\n"
    "        importlib.invalidate_caches()\n"
    "    finally:\n"
    "        zipimport._read_directory = read\n"
    "    return calls\n"
)


def test_zip_directory_reread_only_when_archive_changes(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zmod_a.py", "NAME = 0\n")
    code = _COUNT_READS + (
        "import json, sys\n"
        f"sys.path.insert(0, {archive!r})\n"
        # an importer the daemon already holds when the preload runs
        "import zmod_a\n"
        "import dmp_crawler_spark.daemon_preload\n"
        "unchanged = [count_reads(), count_reads()]\n"
        "import zipfile\n"
        f"with zipfile.ZipFile({archive!r}, 'w') as z:\n"
        "    z.writestr('zmod_a.py', 'NAME = 1\\n')\n"
        "    z.writestr('zmod_b.py', 'NAME = \"zmod_b\"\\n')\n"
        "rewritten = count_reads()\n"
        "import zmod_b\n"
        "print(json.dumps({'unchanged': unchanged, 'rewritten': rewritten,\n"
        "                  'b': zmod_b.NAME}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    got = json.loads(out.stdout.strip().splitlines()[-1])
    if sys.version_info < (3, 13):
        assert got["unchanged"] == [[], []]
        assert archive in got["rewritten"]
    assert got["b"] == "zmod_b"


def test_live_worker_skips_unchanged_zip_rereads(spark):
    """Inside a real no-reuse worker fork, the per-task cache invalidation
    reads no archive directory (with the eager invalidation a worker here
    re-reads 16: the Spark jar's, pyspark.zip's and py4j's importers)."""
    scope = {}
    exec(_COUNT_READS, scope)
    count_reads = scope["count_reads"]

    def probe(rows):
        yield len(count_reads())

    counts = (
        spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe)
        .collect()
    )
    assert len(counts) == 4
    if sys.version_info < (3, 13):
        assert counts == [0, 0, 0, 0]
