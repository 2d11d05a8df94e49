"""Scaling-efficiency evidence (north_rule): run the identical flagship
tile-encode job at parallelism level N and 4N on the same input and report
throughput at both plus the scaling efficiency.

No multi-node cluster exists in this sandbox (BASELINE.md), so executor
counts are evidenced as local parallelism levels; each level runs in a
FRESH subprocess = fresh JVM, so no executor/thread-pool state leaks
between levels, and trials are best-of-3 behind a warmup (this host's
page-fault path is time-varying — see BENCH/BASELINE.md).

The primary pair is local[1] -> local[4] (N=1, 4N=4 single-core executor
equivalents). This host saturates a kernel-side resource at ~4 concurrent
slots for this workload (measured: local[4] == local[16] ==
local-cluster[8,2] wall-clock within noise, with cores idle and sys-time
dominant beyond 4 slots — host ceiling, not engine serialization), so
pairs anchored above N=1 measure the host, not the dataflow. The script
also runs the ceiling probe at local[16] and reports it alongside, so the
evidence shows both the clean N->4N scaling and where the box tops out.

Usage: python bench_scaling.py [n_small] [n_images] [--no-probe]
    (defaults: 1, 20000000, local[16] ceiling probe on)
Writes BENCH/scaling_last_run.json and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent

_CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from vectortiles_spark.session import get_spark
from pyspark.sql import functions as F
from vectortiles_spark.operators import tiling

cpus = {cpus}
spark = get_spark(
    app_name=f"scale{{cpus}}", master={master!r}, extra_conf={extra_conf!r},
)
imgs = spark.read.parquet({images!r})
feats = tiling.point_features(
    imgs, z=12, layer="images", feature_id=F.xxhash64("image_id"),
    meta={{"caption": F.col("caption"), "phash": F.col("phash")}},
)
df = tiling.encode_tiles(feats, partitions=64, single_layer="images")
best = None
for trial in range({trials}):
    t0 = time.perf_counter()
    agg = df.agg(F.count("*").alias("t"), F.sum("n_features").alias("f")).collect()[0]
    dt = time.perf_counter() - t0
    if best is None or dt < best[0]:
        best = (dt, agg.t, agg.f)
print(json.dumps({{"cpus": cpus, "sec": best[0], "tiles": best[1], "features": best[2]}}))
spark.stop()
"""


def run_level(
    cpus: int, images: str, trials: int = 3, master: str | None = None
) -> dict:
    """One fresh-JVM measurement. ``master`` defaults to local[cpus];
    pass a local-cluster[n,c,mem] string for the multi-JVM tier (executor
    JVMs need PYTHONPATH to import this repo's python workers)."""
    extra = {"spark.sql.shuffle.partitions": "64"}
    if master is None:
        master = f"local[{cpus}]"
    else:
        extra["spark.executorEnv.PYTHONPATH"] = str(REPO)
    code = _CHILD.format(
        repo=str(REPO), cpus=cpus, images=images, trials=trials,
        master=master, extra_conf=extra,
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _level_entry(r: dict) -> dict:
    return {
        "sec": round(r["sec"], 2),
        "tiles_per_sec": round(r["tiles"] / r["sec"], 1),
        "features_per_sec": round(r["features"] / r["sec"], 1),
    }


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    probe = "--no-probe" not in sys.argv
    n_small = int(args[0]) if args else 1
    n_images = int(args[1]) if len(args) > 1 else 20000000
    light = n_images > 2000000  # big scale runs skip image payload synthesis
    images = f"/tmp/bench_images_{n_images}" + ("_light" if light else "")
    if not os.path.exists(f"{images}/_SUCCESS"):
        from vectortiles_spark.session import get_spark
        from vectortiles_spark.sources.synth import write_images_table

        spark = get_spark(app_name="gen")
        write_images_table(spark, images, n_images, light=light)
        spark.stop()

    # interleave the levels (4N, N, 4N, N) so host drift between
    # measurements can't fake or hide scaling, and take best-of SYMMETRIC
    # runs per level (best-of-2 each side) so the estimator isn't biased
    # toward whichever level got more chances at a quiet window; each run
    # is its own fresh JVM
    big = run_level(n_small * 4, images)
    small = run_level(n_small, images)
    big2 = run_level(n_small * 4, images)
    small2 = run_level(n_small, images)
    if big2["sec"] < big["sec"]:
        big = big2
    if small2["sec"] < small["sec"]:
        small = small2
    speedup = small["sec"] / big["sec"]
    efficiency = speedup / 4.0
    result = {
        "metric": "scaling_efficiency",
        "value": round(efficiency, 3),
        "unit": "ratio",
        "n_images": n_images,
        "levels": {
            f"local[{n_small}]": _level_entry(small),
            f"local[{n_small * 4}]": _level_entry(big),
        },
        "speedup": round(speedup, 2),
    }
    if "--no-cluster-tier" not in sys.argv:
        # MULTI-JVM tier (VERDICT r2 #8): the same N -> 4N pair as separate
        # EXECUTOR processes — local-cluster[n,1,3072] runs n single-core
        # executor JVMs with a real driver<->executor shuffle boundary, the
        # closest thing to "N and 4N executors" this single box can host.
        # Interleaved 4N/N/4N/N with the same symmetric best-of estimator.
        # SYMMETRIC trial counts at both levels (unequal min-sampling
        # would bias the efficiency estimator toward whichever level draws
        # more samples); 4 trials each because executor-JVM + python
        # worker spin-up leaves a visible cold fraction in ~30s trials —
        # measured 39.9s best-of-2 vs 30.8s best-of-4 on a quiet host
        cbig = run_level(4, images, trials=4, master="local-cluster[4,1,3072]")
        csmall = run_level(1, images, trials=4, master="local-cluster[1,1,3072]")
        cbig2 = run_level(4, images, trials=4, master="local-cluster[4,1,3072]")
        csmall2 = run_level(1, images, trials=4, master="local-cluster[1,1,3072]")
        if cbig2["sec"] < cbig["sec"]:
            cbig = cbig2
        if csmall2["sec"] < csmall["sec"]:
            csmall = csmall2
        cspeed = csmall["sec"] / cbig["sec"]
        result["cluster_tier"] = {
            "levels": {
                "local-cluster[1,1,3072]": _level_entry(csmall),
                "local-cluster[4,1,3072]": _level_entry(cbig),
            },
            "speedup": round(cspeed, 2),
            "efficiency": round(cspeed / 4.0, 3),
            "note": (
                "1 -> 4 single-core executor JVMs (separate processes, real "
                "shuffle boundary); same input and partitioning as the "
                "local[] tier"
            ),
        }
        # VERDICT r4 #6: one pooled-trial probe at 8 executors — either
        # extends the multi-JVM evidence past 4-way or documents the host
        # ceiling with data (8 x 3 GiB fits this box). Single pooled run
        # (trials=4 in-JVM) to bound wall cost; interpret vs csmall.
        try:
            c8 = run_level(8, images, trials=4, master="local-cluster[8,1,3072]")
            c8speed = csmall["sec"] / c8["sec"]
            result["cluster_tier"]["probe_8x"] = {
                "local-cluster[8,1,3072]": _level_entry(c8),
                "speedup_vs_1": round(c8speed, 2),
                "efficiency_vs_1": round(c8speed / 8.0, 3),
            }
        except Exception as exc:  # noqa: BLE001 — probe is additive evidence
            result["cluster_tier"]["probe_8x"] = {"error": str(exc)[:200]}
    if probe:
        ceiling = run_level(16, images, trials=2)
        result["host_ceiling_probe"] = {
            "local[16]": _level_entry(ceiling),
            "note": (
                "efficiency beyond 4 slots is sub-0.5 and TIME-VARYING on this "
                "host (kernel-side contention: sys-time dominant, cores idle in "
                "loaded windows; local[16] has measured 14.6-39s on identical "
                "input); see BENCH/BASELINE.md"
            ),
        }
    print(json.dumps(result))

    os.makedirs(REPO / "BENCH", exist_ok=True)
    (REPO / "BENCH" / "scaling_last_run.json").write_text(json.dumps(result, indent=2))


if __name__ == "__main__":
    main()
