"""SparkSession factory tuned for the crawl-engine workload.

Local mode is used for tests/bench (single JVM); the same configs are the
ones that matter on a real cluster: AQE for runtime re-planning (skew joins
on hot hosts), Arrow for the pandas-UDF extraction stage, and a shuffle
partition count sized to the corpus rather than Spark's default 200.

Arrow batch size is deliberately small (256) because the `html` column is
fat (~10-100 KB/row); large Arrow batches of html blobs blow out Python
worker memory. See SURVEY.md §4 (batching/vectorization row).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "dmp_crawler_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    bench harnesses can pin parallelism. Pass ``master=""`` to let
    spark-submit own the master/deploy-mode (cluster runs): the engine
    confs below still apply — in particular the no-reuse + preload-daemon
    worker config (§2o), which the deployment path needs as much as local
    mode — with three submit-mode exceptions: ``spark.sql.shuffle.
    partitions`` is left to spark-defaults/AQE unless explicitly passed
    (a local-mode 32 would be wrong on a 1000-executor cluster),
    ``spark.driver.memory`` must come from spark-submit flags (the driver
    JVM is already up in client mode, a builder conf is ignored), and
    ``spark.local.dir`` is not pointed at /dev/shm (executor containers
    commonly cap shm at 64MB — opt in via SPARK_GRAFT_CONF if the
    cluster's hosts have real tmpfs headroom).
    """
    submit_mode = master == ""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None and not submit_mode:
        # match effective parallelism in local mode; on a cluster this is
        # sized to corpus volume (≈ input bytes / 128MB), AQE coalesces down.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))

    builder = SparkSession.builder if submit_mode else SparkSession.builder.master(master)
    if not submit_mode:
        # driver memory must be set before the driver JVM launches; in
        # submit mode that JVM already exists (client mode), so a builder
        # conf here would be silently ignored — pass --driver-memory to
        # spark-submit instead (round-4 advice).
        builder = builder.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g")
        )
    builder = (
        builder
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # fat binary `html` column (~30-100KB/row): the default 4096-row
        # vectorized-reader batch is ~120MB+ per task and OOMs a shared
        # local-mode heap at 32 concurrent tasks; 256 rows ≈ 8MB/task.
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python-worker reuse OFF: under 32-way local concurrency, Spark
        # 4.1's reused-worker handoff intermittently loses the wakeup —
        # the JVM epoll-waits on worker output while the worker blocks in
        # recvmsg on an empty socket (kernel stacks in
        # BENCH/BASELINE.md §2o) — stalling whole stages for minutes.
        # Measured on the 2M-URL crawl at local[32]: 1,804 → 8,130
        # URLs/s with reuse off (bloom_build phase 184 s → 1.9 s).
        # Cost is a daemon fork per task plus pyspark's per-task
        # importlib.invalidate_caches(), which on CPython < 3.13 re-read
        # every inherited zip archive's directory (the Spark core jar,
        # pyspark.zip): 160-210 ms before a task's first row, the bulk of a
        # small prefilter/bloom task (BENCH/BASELINE.md §2x). The preload
        # daemon below makes that re-read stat-gated; a reused worker
        # would not avoid it (setup_spark_files runs per task either way).
        # On a real cluster revisit via SPARK_GRAFT_CONF (or the 4.1
        # spark.python.worker.idleTimeoutSeconds/killOnIdleTimeout
        # reaper) if per-task fork ever shows up in profiles.
        .config("spark.python.worker.reuse", "false")
        # ...and make no-reuse forks cheap: the preload daemon imports
        # pandas/pyarrow/the extractor stack once, so every per-task fork
        # inherits warm modules copy-on-write instead of re-importing
        # (~2 s CPU/task; cost the 2M-URL local[8] crawl ~30% throughput),
        # and stops the per-task zip directory re-reads.
        .config("spark.python.daemon.module", "dmp_crawler_spark.daemon_preload")
    )
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    # the worker daemon (spark.python.daemon.module) is spawned before a
    # task puts --py-files on sys.path, so the path this package was
    # imported from must be on the daemon's own PYTHONPATH. Local masters
    # launch the JVM from this process, which inherits os.environ; under
    # spark-submit the JVM is already up, so the path goes to the workers
    # through spark.executorEnv (PySpark hands it to every Python worker
    # it starts). That path is the --py-files zip itself when the driver
    # imported the package from it; a multi-host cluster whose executors
    # see the archive elsewhere overrides it via SPARK_GRAFT_CONF.
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if submit_mode:
        builder = builder.config("spark.executorEnv.PYTHONPATH", _pkg_root)
    elif _pkg_root not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")
        ).rstrip(os.pathsep)
    # Shuffle/spill files are transient — put them on fast local storage
    # (tmpfs here; local NVMe on a real cluster) so shuffle I/O doesn't
    # contend with durable parquet writes on the data disk. The crawl
    # loop's page-landing write (~300 MB/iteration at bench scale) and the
    # link shuffle otherwise serialize behind one another's writeback.
    # Local masters only: in submit mode this conf would be shipped
    # cluster-wide, and real standalone executors usually run with the
    # container-default 64MB /dev/shm — large shuffles would exhaust it
    # and fail jobs (round-4 advice). Cluster runs opt in explicitly via
    # SPARK_GRAFT_CONF="spark.local.dir=..." sized to the executor hosts.
    if (
        not submit_mode
        and os.path.isdir("/dev/shm")
        and os.environ.get("SPARK_GRAFT_SHM", "1") == "1"
    ):
        shm_dir = "/dev/shm/spark_local"
        os.makedirs(shm_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", shm_dir)
    # ad-hoc conf overrides without touching call sites (bench A/Bs,
    # cluster-specific tuning): SPARK_GRAFT_CONF="k=v;k2=v2"
    for kv in filter(None, os.environ.get("SPARK_GRAFT_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
