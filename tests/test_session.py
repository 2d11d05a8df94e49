"""session.get_spark: the settings it makes, extra_conf overriding them,
and the one core count (``_parallel.host_cpus``) that both the default
``local[N]`` and ``python_partitions`` read."""

import os

from vectortiles_spark.operators import _parallel
from vectortiles_spark.session import get_spark

SHUFFLE = "spark.sql.shuffle.partitions"
SPLIT = "spark.sql.files.maxPartitionBytes"


def test_running_session_settings(spark):
    conf = spark.conf
    for aqe in ("enabled", "coalescePartitions.enabled", "skewJoin.enabled"):
        assert conf.get(f"spark.sql.adaptive.{aqe}") == "true"  # Spark's defaults
    assert conf.get(SHUFFLE) == str(spark.sparkContext.defaultParallelism)
    assert conf.get("spark.sql.optimizer.windowGroupLimitThreshold") == str(2**31 - 1)
    assert conf.get("spark.python.daemon.module") == "vectortiles_spark._worker_daemon"
    assert "-Xms" not in conf.get("spark.driver.extraJavaOptions")


def test_extra_conf_overrides_a_setting(spark):
    keep = {k: spark.conf.get(k) for k in (SHUFFLE, SPLIT)}
    try:
        s = get_spark(app_name="tests", extra_conf={SHUFFLE: "7", SPLIT: "32m"})
        assert s is spark
        assert (s.conf.get(SHUFFLE), s.conf.get(SPLIT)) == ("7", "32m")
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)


def test_host_cpus_follows_env_then_affinity(monkeypatch):
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 5, 9})
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert _parallel.host_cpus() == 6
    for unset in ("", "0", "*"):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", unset)
        assert _parallel.host_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert _parallel.host_cpus() == 3


def test_python_partitions_follows_host_cpus(spark, monkeypatch):
    """Each local Python task costs about two cores, so a local[4]
    session on 2 host cores runs 1 task and on 8 cores all 4. The old
    ``os.cpu_count()`` read ignored a pinned affinity mask."""
    sc = spark.sparkContext
    assert sc.defaultParallelism == 4
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    assert _parallel.python_partitions(sc) == 1
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert _parallel.python_partitions(sc) == 4
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1})
    assert _parallel.python_partitions(sc) == 1
