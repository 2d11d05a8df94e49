"""One parallelism policy for Python-bound stages.

A ``mapInArrow``/``applyIn*`` stage runs one Python task per partition,
so its speed is set by how many partitions reach it. Two rules, decided
from facts of the running session and of the physical plan (never by
running the plan):

* ``widen``: a narrow input (a one-file parquet scans as ONE split) is
  spread round-robin over ``defaultParallelism`` (or a given count of)
  partitions before fan-out or Python-heavy work; an input already that
  wide is returned as it is, so it gains no exchange.
* ``python_partitions``: the partition count of a Python-bound stage
  (the fused clip/simplify/geom kernel, MVT encode, downzoom merge).

Both, and ``session.get_spark``'s default ``local[N]``, count the host's
cores with ``host_cpus``.
"""

from __future__ import annotations

import os

from pyspark import SparkContext
from pyspark.sql import DataFrame


def host_cpus() -> int:
    """Cores this process may run on: ``$SPARK_GRAFT_CPUS`` when it is a
    positive integer, else the CPUs in the affinity mask (a container or
    ``taskset`` pin, which ``os.cpu_count()`` ignores)."""
    n = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(n) if n.isdigit() and int(n) > 0 else len(os.sched_getaffinity(0))


def _plan_partitions(plan) -> int:
    """Partitions ``plan`` produces, read off the (unexecuted) plan: a
    node's declared output partitioning (exchanges, ranges, coalesces and
    everything that keeps them); a leaf's own RDD split count (building a
    scan's RDD lists its file splits and runs no job); a union's sum;
    otherwise the widest child (a broadcast side counts one)."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        # the current plan, with its exchanges: AQE only changes it by
        # running query stages, which this must not do
        plan = plan.executedPlan()
    n = plan.outputPartitioning().numPartitions()
    if n > 0:
        return n
    c = plan.children()
    kids = [_plan_partitions(c.apply(i)) for i in range(c.size())]
    if not kids:
        return plan.execute().getNumPartitions()
    return sum(kids) if plan.nodeName() == "Union" else max(kids)


def planned_partitions(df: DataFrame) -> int:
    """Partition count of ``df`` as planned, without running a Spark job.

    ``df.rdd.getNumPartitions()`` would execute AQE's upstream query
    stages just to count, and then report the count AQE coalesced to. A
    shuffle-fed plan counts its exchange's planned partitions instead."""
    return _plan_partitions(df._jdf.queryExecution().executedPlan())


def widen(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin ``df`` to ``partitions`` (default
    ``defaultParallelism``) partitions when it has fewer, else return it
    unchanged.

    Fan-out and Python work built on a narrow scan otherwise runs on one
    core: q_knn_ring took 127 s wall for 127 s of executor CPU at sf1.0
    (32 cores), sf0.1 minhash signatures 5.7 s vs 0.75 s, and
    ``build_pyramid``'s fused clip/simplify/geom stage ran as one task
    for 5.1 s of a 6 s pass at 3,000 lines (4 cores). One cheap exchange
    of the raw rows buys every core; a streaming frame keeps its
    layout."""
    if df.isStreaming:
        return df
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if planned_partitions(df) < target else df


def python_partitions(sc: SparkContext) -> int:
    """Partition count for a Python-bound stage.

    ``defaultParallelism``, because AQE's size-based coalescing would fold
    a few hundred MB of shuffle into a handful of partitions and serialize
    the workers. In local mode each running task costs about two cores
    (the JVM's row-to-Arrow feed thread plus the Python worker), so when
    the slots already cover the cores it is ``cores // 2``: measured 8.4 s
    vs 1.1 s encoding 200k rows on the 32-core host. A stage that fills
    every core also waits on its slowest task whenever anything else
    wants CPU (the Spark driver, host steal on a shared VM): tilebench
    road_pyramid on 4 vCPUs, 5 interleaved runs each, had run medians of
    0.80-0.91 s with its clip kernel in 4 tasks (rows/s IQR 93),
    1.11-1.21 s in 2 tasks (IQR 48) and 1.61-1.83 s in 1 task."""
    parts = sc.defaultParallelism
    ncpu = host_cpus()
    if sc._jsc.sc().isLocal() and parts >= ncpu:
        return max(1, ncpu // 2)
    return parts
