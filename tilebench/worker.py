"""One benchmark run of one workload in one Spark session.

Started by run.py, which owns the process group; this process sets up,
measures for ``--seconds``, checks every pass, stops its session and
waits for the JVM and the Python workers before it writes its result to
``--result``. See README.md for what is measured and why.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback

import proctree
import tracing as tr
import workloads as W

HEAP = "1g"            # spark.driver.memory handed to get_spark
SETUP_REPEATS = 3      # input generation + load is timed this many times
# one cold pass warms the JVM and the Python workers; the first pass
# after it still runs ~20% slower (JIT), which the median over the
# measured passes absorbs
WARMUP_PASSES = 1
SELF_TIME_TOLERANCE = 0.05  # unattributed share of the traced wall allowed

PER_LAYER_UNITS = {
    "session.start_s": "s", "session.driver_heap_mb": "MB",
    "sources.append_s": "s", "sources.scan_s": "s",
    "sources.files_scanned": "count", "sources.bytes_scanned": "bytes",
    "sources.pmtiles_write_s": "s", "sources.pmtiles_read_s": "s",
    "sources.archive_bytes": "bytes",
    "functions.tile_assign_s": "s",
    "spatial_join.pip_s": "s", "spatial_join.candidate_pairs": "count",
    "spatial_join.matched_pairs": "count", "spatial_join.match_ratio": "ratio",
    "tiling.encode_s": "s", "tiling.features_in": "count",
    "tiling.features_kept": "count", "tiling.cap_keep_ratio": "ratio",
    "tiling.tiles_out": "count",
    "tiling.decode_s": "s", "tiling.features_decoded": "count",
    "clip.clip_s": "s", "clip.pieces_out": "count",
    "simplify.simplify_s": "s", "simplify.vertices_in": "count",
    "simplify.vertices_out": "count", "tiling.geom_features_s": "s",
    "overzoom.overzoom_s": "s", "overzoom.children_out": "count",
    "mvt.encode_us_per_feature": "us", "mvt.decode_us_per_feature": "us",
    "exchange.shuffle_write_bytes": "bytes", "exchange.shuffle_write_records": "count",
    "exchange.fetch_wait_s": "s",
    "python.total_s": "s", "python.boot_s": "s", "python.init_s": "s",
    "python.data_sent_bytes": "bytes", "python.data_received_bytes": "bytes",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "driver.gap_s": "s",
    "memory.jvm_peak_rss_mb": "MB", "memory.python_peak_rss_mb": "MB",
    "trace.wall_s": "s", "trace.untraced_wall_s": "s", "trace.overhead_s": "s",
    "trace.unattributed_share": "ratio",
}
# span name -> self-time metric
SPAN_METRIC = {
    "sources.scan": "sources.scan_s",
    "sources.pmtiles_write": "sources.pmtiles_write_s",
    "sources.pmtiles_read": "sources.pmtiles_read_s",
    "functions.tile_assign": "functions.tile_assign_s",
    "spatial_join.pip": "spatial_join.pip_s",
    "tiling.encode": "tiling.encode_s",
    "tiling.decode": "tiling.decode_s",
    "tiling.geom_features": "tiling.geom_features_s",
    "clip.clip": "clip.clip_s",
    "simplify.simplify": "simplify.simplify_s",
    "overzoom.overzoom": "overzoom.overzoom_s",
}


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (diagnostic only: a busy host slows every figure)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class Ctx:
    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.append_s: list[float] = []


def start_session(work: str):
    from vectortiles_spark.session import get_spark

    ncpu = len(os.sched_getaffinity(0))
    return get_spark(
        app_name="tilebench",
        master=f"local[{ncpu}]",
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark, timeout: float = 30.0) -> list[int]:
    """Stop the session, close the py4j gateway, and wait for the JVM and
    the Python workers it forked. Returns the pids still alive."""
    from pyspark import SparkContext

    kids = proctree.descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return proctree.wait_gone(kids, timeout)


def codec_timing(sample: list[bytes]) -> dict:
    """Public scalar codec on a sample of the run's own tiles: decode and
    re-encode, median of 5 rounds, microseconds per feature."""
    from vectortiles_spark.mvt import codec

    n = sum(sum(len(l.features) for l in codec.decode_tile(b).values()) for b in sample)
    dec_t, enc_t = [], []
    for _ in range(5):
        t0 = time.perf_counter()
        decoded = [codec.decode_tile(b) for b in sample]
        t1 = time.perf_counter()
        for d in decoded:
            codec.encode_tile(list(d.values()))
        t2 = time.perf_counter()
        dec_t.append(t1 - t0)
        enc_t.append(t2 - t1)
    return {
        "mvt.decode_us_per_feature": statistics.median(dec_t) / max(n, 1) * 1e6,
        "mvt.encode_us_per_feature": statistics.median(enc_t) / max(n, 1) * 1e6,
    }


class Runner:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.traced: list[dict] = []
        self.last_check: dict | None = None

    def one_pass(self, wl, k: int, spans=None, counters=None) -> None:
        """One operation: a pass of the pipeline plus its output check."""
        self.attempted += 1
        try:
            if spans is None:
                t0 = time.perf_counter()
                out = wl.run(k)
                wall = time.perf_counter() - t0
            else:
                with spans.span("pass", workload=wl.name, k=k) as root:
                    out = wl.run(k, spans)
                record = self.trace_record(wl, spans, root, counters, out)
            self.last_check = wl.check(out)
            # only passes whose output held feed the figures
            if spans is None:
                self.walls.append(wall)
            else:
                self.traced.append(record)
        except W.Failed as e:
            self.failed += 1
            print(f"tilebench: pass {k} check failed: {e}", file=sys.stderr)

    def trace_record(self, wl, spans, root, counters, out) -> dict:
        wall = root["end"] - root["start"]
        selfs = spans.self_times(root["id"])
        rec = {SPAN_METRIC[n]: v for n, v in selfs.items() if n in SPAN_METRIC}
        rec["trace.wall_s"] = wall
        rec["trace.unattributed_share"] = selfs["pass"] / wall
        if abs(sum(selfs.values()) - wall) > 1e-6 * max(wall, 1.0):
            raise W.Failed("span self times do not add up to the traced wall")
        if selfs["pass"] > SELF_TIME_TOLERANCE * wall:
            raise W.Failed(
                f"layer spans leave {selfs['pass']:.3f}s of {wall:.3f}s unattributed"
            )
        stages = counters.stages(root["mark_start"], root["mark_end"])
        nodes = counters.plan_nodes(root["mark_start"], root["mark_end"])
        rec.update(tr.spark_layer_metrics(stages, nodes, wall))
        pip = spans.find("spatial_join.pip", root["id"])
        pip_nodes = counters.plan_nodes(pip["mark_start"], pip["mark_end"]) if pip else []
        rec.update(wl.trace_counts(out, pip_nodes))
        return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    steal0 = host_steal_s()
    sampler = proctree.RssSampler(os.getpid()).start()
    t_session = time.perf_counter()
    spark = start_session(args.work)
    session_start_s = time.perf_counter() - t_session
    runner = Runner()
    survivors: list[int] = []
    try:
        ctx = Ctx(spark, args.seed, args.work)
        wl = W.WORKLOADS[args.workload](ctx)
        loads = [wl.load(rep) for rep in range(SETUP_REPEATS)]
        warm_s = 0.0
        for k in range(-WARMUP_PASSES, 0):  # JIT, Python workers, caches
            t_warm = time.perf_counter()
            warm = wl.run(k)
            warm_s += time.perf_counter() - t_warm
            try:
                wl.check(warm)
            except W.Failed as e:  # the measured passes count it
                print(f"tilebench: warm-up check failed: {e}", file=sys.stderr)
        setup_s = session_start_s + statistics.median(loads) + warm_s

        counters = tr.SparkCounters(spark) if args.trace else None
        spans = tr.Spans(f"{args.workload}-{args.seed}", counters.mark) if args.trace else None
        t_end = time.perf_counter() + args.seconds
        k = 0
        while True:
            traced = args.trace and k % 2 == 1
            runner.one_pass(wl, k, spans if traced else None, counters)
            k += 1
            if time.perf_counter() >= t_end and (
                not args.trace or (runner.walls and runner.traced) or k >= 6
            ):
                break
        check = runner.last_check or {}
        sample = check.get("sample", [])
        codec_m = codec_timing(sample) if args.trace and sample else {}
        heap_mb = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20
    finally:
        survivors = stop_session(spark)
        sampler.stop()

    for pid in survivors:
        print(f"tilebench: still running after stop: {proctree.describe(pid)}", file=sys.stderr)
    # a survivor counts as a failed operation; run.py adds its own
    result = {"attempted": runner.attempted + len(survivors),
              "failed": runner.failed + len(survivors)}
    result["correct"] = result["failed"] == 0
    if not args.trace:
        wall = statistics.median(runner.walls) if runner.walls else float("nan")
        feats = check.get("features", 0)
        result["metrics"] = {
            "wall_s": {"value": wall, "unit": "s"},
            "rows_per_s": {"value": wl.rows() / wall, "unit": "1/s"},
            "mvt_bytes_per_feature": {
                "value": check.get("mvt_bytes", 0) / feats if feats else float("nan"),
                "unit": "bytes",
            },
            "peak_rss_mb": {"value": sampler.peak_total / 2**20, "unit": "MB"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
    else:
        per = {name: 0.0 for name in PER_LAYER_UNITS}
        for name in runner.traced[0] if runner.traced else ():
            per[name] = statistics.median(r.get(name, 0.0) for r in runner.traced)
        per.update(codec_m)
        per["session.start_s"] = session_start_s
        per["session.driver_heap_mb"] = heap_mb
        per["sources.append_s"] = statistics.median(ctx.append_s) if ctx.append_s else 0.0
        per["memory.jvm_peak_rss_mb"] = sampler.peak_jvm / 2**20
        per["memory.python_peak_rss_mb"] = sampler.peak_python / 2**20
        untraced = statistics.median(runner.walls) if runner.walls else float("nan")
        per["trace.untraced_wall_s"] = untraced
        per["trace.overhead_s"] = per["trace.wall_s"] - untraced
        result["metrics"] = {
            name: {"value": float(v), "unit": PER_LAYER_UNITS[name]}
            for name, v in per.items()
        }
        spans.dump(os.path.join(os.path.dirname(args.result), f"spans-{args.workload}-{args.seed}.json"))
    result["setup"] = {
        "session_start_s": session_start_s, "load_s": loads,
        "warmup_s": warm_s, "heap_mb": heap_mb, "pass_walls": runner.walls,
        "points_excluded": wl.excluded(),
        "host_steal_s": host_steal_s() - steal0,
    }
    for m in result["metrics"].values():
        if not math.isfinite(m["value"]):
            m["value"] = None  # no pass produced the figure (all failed)
    with open(args.result, "w") as f:
        json.dump(result, f, allow_nan=False)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
