"""Tuned SparkSession factory for the tiling engine.

Configs are chosen for the scale contract (BASELINE.json): AQE on with
skew-join splitting for hot-tile joins, Arrow enabled for the pandas-UDF
codec stages, shuffle partitions sized to cores in local mode (on a real
cluster this would be ~2-3x total executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _tune_malloc():
    """Keep glibc from returning freed pages to the kernel.

    On this sandbox (and many virtualized hosts) first-touch of fresh
    mmap'd pages is pathologically slow (~36 MB/s kernel zeroing) while
    warm heap pages run at ~10 GB/s — a 100x+ difference measured here.
    NumPy's large allocations otherwise mmap/munmap per call, so every
    Arrow batch and codec buffer pays the cold-page cost and, worse,
    page-fault contention serializes parallel Python workers. Must be set
    before the JVM starts: the tuning reaches the FORKED processes (the
    JVM and the python workers it spawns — where the hot path runs); the
    CURRENT driver process's glibc read these knobs at startup, so
    driver-side allocations only benefit when the launching shell
    exported them (bench harnesses should). Harmless where memory is
    normal."""
    os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1000000000")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1000000000")
    # PyArrow's default (jemalloc/mimalloc) pool madvises pages back to the
    # kernel aggressively, re-paying the (serialized) fault cost per Arrow
    # batch; the system pool routes through glibc, which the settings above
    # keep warm
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")


def get_spark(
    app_name: str = "vectortiles_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or return) the tuned session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``, and that variable
    to the number of cores this process may run on. ``extra_conf`` is
    applied last, so it overrides every setting made here.

    Python workers start from ``vectortiles_spark._worker_daemon``, so the
    engine must be importable by the worker interpreter when the daemon
    starts (``PYTHONPATH``, working directory or an install). Engine UDFs,
    pickled by reference, already need it importable, but only inside
    tasks, where ``--py-files`` archives are on the path too: an engine
    shipped only that way must also be on the executors' ``PYTHONPATH``.
    """
    _tune_malloc()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = cpus if cpus != "*" else len(os.sched_getaffinity(0))
        shuffle_partitions = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else int(n)
    # resolve driver memory BEFORE building java options: extra_conf may
    # override spark.driver.memory, and -Xms (AlwaysPreTouch) larger than
    # the overridden -Xmx would kill the JVM at startup
    driver_mem = (extra_conf or {}).get(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY")
    )
    if driver_mem is None:
        # DEFAULT sizing only: AlwaysPreTouch + -Xms commits the whole heap
        # at startup, so an unconditional 16g default would OOM-kill the
        # JVM on any host with less free RAM — cap the default at ~60% of
        # MemAvailable (explicit settings are honored untouched)
        avail_gb = 16
        try:
            with open("/proc/meminfo") as f:
                for line in f:
                    if line.startswith("MemAvailable:"):
                        avail_gb = int(line.split()[1]) // (1024 * 1024)
                        break
        except OSError:
            pass
        driver_mem = f"{max(1, min(16, int(avail_gb * 0.6)))}g"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # scan-split target, parameterised (guide §6): the benchmark inputs
        # are single parquet files just under the 128m default, so a whole
        # 6M-row table scans as ONE task and every scan-side stage
        # serializes (BENCH_r05: q01/q03 map stages ran 1-way on lineitem's
        # 126 MB file). 16m splits let row groups parallelize locally; at
        # petabyte scale set SPARK_GRAFT_MAX_PARTITION_BYTES=512m..1g so
        # big sequential scans keep few, large map tasks (guide §2.2/§6).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # propagate the malloc tuning to executor-forked python workers on
        # real clusters (local mode inherits the driver env directly)
        .config("spark.executorEnv.MALLOC_MMAP_MAX_", "0")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1000000000")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1000000000")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        # pre-touch the heap once and keep it (ParallelGC never uncommits):
        # G1's periodic uncommit re-pays this sandbox's serialized
        # page-fault path on every growth cycle
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+AlwaysPreTouch -Xms{driver_mem} -XX:+UseParallelGC",
        )
        # same treatment for EXECUTOR JVMs (local-cluster / real clusters;
        # inert in local mode where there is no separate executor JVM):
        # ParallelGC never uncommits, so the fault path is paid once
        .config(
            "spark.executor.extraJavaOptions",
            "-XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
        # the stock daemon, minus PySpark's per-task rescan of every zip
        # archive on the worker's import path (pyspark.zip, the Spark jar,
        # py4j; _worker_daemon.py has why it is safe). Measured on 4
        # cores: a no-op 128-task mapInArrow took 4.6-7.6 s with the stock
        # daemon and 1.9-2.1 s with this one; tilebench image_tiles' median
        # pass 7.9 -> 5.8 s over 10 pairs
        .config("spark.python.daemon.module", "vectortiles_spark._worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
