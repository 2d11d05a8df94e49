"""SparkSession factory for the tiling engine.

Each setting ``get_spark`` makes has its reason in a comment, measured
on the host the engine runs on (4 vCPUs, 15 GB) where one was; settings
that equal Spark's defaults, or that cost memory there and bought no
time, are not made.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from vectortiles_spark.operators._parallel import host_cpus


def _default_heap() -> str:
    """60% of MemAvailable, at most 16g. The driver JVM's heap may grow
    to its -Xmx, and the Python workers need room beside it: a full
    ``bench.py`` (sf_large tier included) with this default on a 15 GB
    host peaked at 11.7 GB of process-tree RSS (JVM 5.8 GB, Python
    workers 7.0 GB)."""
    avail_gb = 16
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_gb = int(line.split()[1]) // (1024 * 1024)
                    break
    except OSError:
        pass
    return f"{max(1, min(16, int(avail_gb * 0.6)))}g"


def get_spark(
    app_name: str = "vectortiles_spark",
    master: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or return) the engine's session.

    ``master`` defaults to ``local[N]``, N = ``_parallel.host_cpus()``.
    The settings, each with its reason in a comment below:

    * ``spark.sql.shuffle.partitions``: the started context's
      ``defaultParallelism`` (``N`` in ``local[N]``), not 200;
    * ``spark.driver.memory``: ``$SPARK_DRIVER_MEMORY``, else 60% of
      MemAvailable capped at 16g; it bounds the heap and reserves nothing;
    * ParallelGC on the driver and executor JVMs;
    * ``spark.sql.optimizer.windowGroupLimitThreshold`` lifted, so the
      hot-tile caps keep their map-side partial limit above 1000;
    * ``spark.python.daemon.module``: ``vectortiles_spark._worker_daemon``;
    * ``spark.sql.files.maxPartitionBytes`` 16m;
    * Arrow for pandas conversions, 65536-row Arrow batches, a 64 MB
      broadcast threshold, no UI and UTC session time.

    AQE, its partition coalescing and its skew-join splitting are on by
    Spark's own defaults. ``extra_conf`` is applied last, so it is the way
    to override any setting made here.

    Python workers start from ``vectortiles_spark._worker_daemon``, so the
    engine must be importable by the worker interpreter when the daemon
    starts (``PYTHONPATH``, working directory or an install). Engine UDFs,
    pickled by reference, already need it importable, but only inside
    tasks, where ``--py-files`` archives are on the path too: an engine
    shipped only that way must also be on the executors' ``PYTHONPATH``.
    """
    conf = {
        # timestamps and dates render the same on every host
        "spark.sql.session.timeZone": "UTC",
        # scan splits: a single-file input just under Spark's 128m default
        # otherwise scans as one task. Against 128m, 3 alternating tilebench
        # pairs on 4 vCPUs: setup_s (which loads the input) 16.6 -> 15.5 s
        # on image_tiles and 10.2 -> 9.8 s on road_pyramid, better in 3/3
        # pairs each; wall_s and peak_rss_mb within noise. bench.py
        # (BENCH_LARGE=0, 3 pairs): q03 0.753 -> 0.704 s, q01 0.245 ->
        # 0.261 s
        "spark.sql.files.maxPartitionBytes": "16m",
        # not yet measured apart on this host (ROADMAP D8): Arrow for
        # pandas <-> DataFrame conversions, 65536-row Arrow batches into
        # the batch kernels (Spark: 10000), a 64 MB broadcast threshold
        # (Spark: 10 MB) and no UI server per session
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY") or _default_heap(),
        # the hot-tile caps (operators/tiling.py) rely on the map-side
        # WindowGroupLimit Spark plans below a `row_number() <= N` window,
        # and Spark plans it only for N up to this threshold (1000 by
        # default); above it a tile's rows all reach one task. 10M rows on
        # one tile in 32 map tasks, local[4]: without the limit the cap's
        # exchange wrote 10,000,000 rows (30.8 s), with it 32,000 (4.0 s)
        "spark.sql.optimizer.windowGroupLimitThreshold": str(2**31 - 1),
        # ParallelGC: G1 in its place raised tilebench image_tiles'
        # peak_rss_mb by about 1% with no resolved change in wall_s (4 vCPUs).
        # No -Xms: a heap reserved up front stays resident whether a
        # workload uses it or not. Dropping -Xms (= -Xmx) cut image_tiles'
        # peak_rss_mb 3784 -> 3555 MB and road_pyramid's 1458 -> 1365 MB at
        # flat wall_s; on a 400,000-image write_images_table at default
        # sizing (8-9g heap), driver JVM peak RSS 4212 -> 2635 MB (median
        # of 3). The executor copy is inert in local mode
        "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        "spark.executor.extraJavaOptions": "-XX:+UseParallelGC",
        # the stock daemon, minus PySpark's per-task rescan of every zip
        # archive on the worker's import path (pyspark.zip, the Spark jar,
        # py4j; _worker_daemon.py has why it is safe). Measured on 4
        # cores: a no-op 128-task mapInArrow took 4.6-7.6 s with the stock
        # daemon and 1.9-2.1 s with this one; tilebench image_tiles' median
        # pass 7.9 -> 5.8 s over 10 pairs
        "spark.python.daemon.module": "vectortiles_spark._worker_daemon",
    }
    conf.update(extra_conf or {})
    builder = SparkSession.builder.master(master or f"local[{host_cpus()}]").appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in conf:
        # one shuffle partition per task slot: Spark's 200 are set for a
        # cluster, and AQE coalesces them only after the map side has
        # written 200 files per task
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism)
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark
