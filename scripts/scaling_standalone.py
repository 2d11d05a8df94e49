"""Engine-code scaling control: run the EXACT per-partition encode worker
(vectortiles_spark.operators.tiling._encode_stream) standalone in N vs 4N
OS processes on identical pre-shuffled partition data — isolating the
engine's own scaling from Spark local-mode's JVM feed co-residency and this
sandbox's serialized kernel page-fault path (both documented in
BENCH/BASELINE.md).

Usage: python scripts/scaling_standalone.py [n_small=8] [rows=250000]
Prints one JSON line with throughput at both levels + efficiency.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

CHUNK = "/tmp/feat_chunk_scaling"

WORK = r'''
import sys, time
sys.path.insert(0, {repo!r})
import pyarrow.parquet as pq
from vectortiles_spark.operators.tiling import _encode_stream
tbl = pq.read_table({chunk!r})
# warm one pass (allocator + import costs), then measure
for rb in _encode_stream(tbl.to_batches(max_chunksize=65536)): pass
t0 = time.time()
for rb in _encode_stream(tbl.to_batches(max_chunksize=65536)): pass
print(time.time() - t0)
'''


def ensure_chunk(rows: int):
    if os.path.exists(f"{CHUNK}/_SUCCESS"):
        return
    from pyspark.sql import functions as F

    from vectortiles_spark.operators import tiling
    from vectortiles_spark.session import get_spark
    from vectortiles_spark.sources.synth import images_df

    spark = get_spark(app_name="chunkgen", master="local[8]")
    imgs = images_df(spark, rows, seed=42, light=True)
    feats = tiling.point_features(
        imgs, z=10, layer="images", feature_id=F.xxhash64("image_id"),
        meta={"caption": F.col("caption"), "phash": F.col("phash")},
    )
    key = [F.col("tile_z"), F.col("tile_x"), F.col("tile_y")]
    feats.repartition(1, *key).sortWithinPartitions(
        *key, F.col("layer"), F.col("geom_type"), F.col("feature_id")
    ).write.mode("overwrite").parquet(CHUNK)
    spark.stop()


def run_level(procs: int, rows: int) -> float:
    code = WORK.format(repo=str(REPO), chunk=CHUNK)
    ps = [
        subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE)
        for _ in range(procs)
    ]
    times = [float(p.communicate()[0]) for p in ps]
    return procs * rows / max(times)  # aggregate rows/sec


def main():
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    rows = int(sys.argv[2]) if len(sys.argv) > 2 else 250000
    ensure_chunk(rows)
    small = run_level(n_small, rows)
    big = run_level(n_small * 4, rows)
    eff = (big / small) / 4.0
    print(
        json.dumps(
            {
                "metric": "engine_code_scaling_efficiency",
                "value": round(eff, 3),
                "unit": "ratio",
                "levels": {
                    f"{n_small} procs": {"features_per_sec": round(small)},
                    f"{n_small * 4} procs": {"features_per_sec": round(big)},
                },
                "speedup": round(big / small, 2),
                "rows_per_proc": rows,
            }
        )
    )


if __name__ == "__main__":
    main()
