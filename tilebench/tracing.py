"""Tracing for the benchmark: spans kept in memory around each call into
a layer, and Spark's own counters read from the benchmark process
through the Spark application's status stores (no UI, no listener, no
port)."""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager


class Spans:
    """Nested spans (name, start, end, parent, run id) recorded from the
    benchmark's side of each layer call."""

    def __init__(self, run_id: str, marker=None):
        self.run_id = run_id
        self.records: list[dict] = []
        self._stack: list[int] = []
        # marker() -> (next stage id, next SQL execution id), taken at
        # both ends of a span so Spark's counters can be attributed to it
        self._marker = marker

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": None,
            "end": None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        if self._marker is not None:
            rec["mark_start"] = self._marker()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if self._marker is not None:
                rec["mark_end"] = self._marker()
            self._stack.pop()

    def find(self, name: str, root_id: int) -> dict | None:
        """The last span called name recorded after root."""
        for r in reversed(self.records[root_id:]):
            if r["name"] == name:
                return r
        return None

    def self_times(self, root_id: int) -> dict[str, float]:
        """Self time per span name under root (root included): duration
        minus the time its direct children cover. Children of one span
        run one after another, so their durations simply add."""
        kids: dict[int, list[dict]] = {}
        for r in self.records:
            if r["parent"] is not None:
                kids.setdefault(r["parent"], []).append(r)
        out: dict[str, float] = {}
        todo = [self.records[root_id]]
        while todo:
            r = todo.pop()
            ch = kids.get(r["id"], [])
            own = (r["end"] - r["start"]) - sum(c["end"] - c["start"] for c in ch)
            out[r["name"]] = out.get(r["name"], 0.0) + own
            todo.extend(ch)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f, indent=1)


_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_NUM = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value -> float in bytes, seconds or units.
    Aggregated metrics read "total (min, med, max ...)\\n<total> (...)"."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text)
    if not m:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkCounters:
    """Completed-stage metrics and SQL plan-node metrics of one session."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._kv = sc._jsc.sc().statusStore().store()
        self._stage_cls = sc._jvm.java.lang.Class.forName(
            "org.apache.spark.status.StageDataWrapper"
        )
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int]:
        """(next stage id, next SQL execution id) at this moment."""
        sc = self.spark.sparkContext
        return sc._jsc.sc().dagScheduler().nextStageId(), self._sql.executionsCount()

    def stages(self, since: tuple[int, int], until: tuple[int, int]) -> list[dict]:
        out = []
        it = self._kv.view(self._stage_cls).closeableIterator()
        try:
            while it.hasNext():
                sd = it.next().info()
                sid = sd.stageId()
                if not since[0] <= sid < until[0]:
                    continue
                if sd.submissionTime().isEmpty() or sd.completionTime().isEmpty():
                    continue
                out.append({
                    "stage": sid,
                    "submit_ms": sd.submissionTime().get().getTime(),
                    "complete_ms": sd.completionTime().get().getTime(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "shuffle_write_records": sd.shuffleWriteRecords(),
                    "fetch_wait_s": sd.shuffleFetchWaitTime() / 1e3,
                })
        finally:
            it.close()
        return out

    def plan_nodes(self, since: tuple[int, int], until: tuple[int, int]) -> list[dict]:
        """[{name, metrics: {metric name: value}}] for every plan node of
        the SQL executions started in [since, until)."""
        out = []
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if not since[1] <= eid < until[1]:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                ms = node.metrics()
                got = {}
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = values.get(m.accumulatorId())
                    if not v.isEmpty():
                        got[m.name()] = parse_metric(v.get())
                out.append({"name": node.name(), "metrics": got})
        return out


def union_seconds(intervals_ms: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] millisecond intervals, in s."""
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals_ms):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1e3


def spark_layer_metrics(stages: list[dict], nodes: list[dict], wall_s: float) -> dict:
    """Per-layer Spark counters of one traced pass."""
    m = {
        "exchange.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
        "exchange.shuffle_write_records": sum(s["shuffle_write_records"] for s in stages),
        "exchange.fetch_wait_s": sum(s["fetch_wait_s"] for s in stages),
        "executor.run_s": sum(s["run_s"] for s in stages),
        "executor.cpu_s": sum(s["cpu_s"] for s in stages),
        "executor.gc_s": sum(s["gc_s"] for s in stages),
        "driver.gap_s": wall_s - union_seconds(
            [(s["submit_ms"], s["complete_ms"]) for s in stages]
        ),
    }
    py = {"python.total_s": 0.0, "python.boot_s": 0.0, "python.init_s": 0.0,
          "python.data_sent_bytes": 0.0, "python.data_received_bytes": 0.0}
    for n in nodes:
        nm = n["metrics"]
        if "time to run Python workers" not in nm:
            continue
        py["python.total_s"] += nm["time to run Python workers"]
        py["python.boot_s"] += nm.get("time to start Python workers", 0.0)
        py["python.init_s"] += nm.get("time to initialize Python workers", 0.0)
        py["python.data_sent_bytes"] += nm.get("data sent to Python workers", 0.0)
        py["python.data_received_bytes"] += nm.get("data returned from Python workers", 0.0)
    m.update(py)
    return m
