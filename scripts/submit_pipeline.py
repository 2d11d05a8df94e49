"""spark-submit entry point for the tiling pipeline (north_rule packaging).

Cluster usage (Python workers start from a module of the engine, so the
zip must be on the executors' PYTHONPATH as well; YARN puts --py-files
there, elsewhere add --conf spark.executorEnv.PYTHONPATH=... or install
the package on the executors):
    scripts/build_pyfiles.sh                         # -> dist/vectortiles_spark.zip
    spark-submit --py-files dist/vectortiles_spark.zip \
        scripts/submit_pipeline.py \
        --input  s3://bucket/images_table \
        --output s3://bucket/tiles_table \
        --zoom 12 --max-per-tile 100000 \
        --checkpoint s3://bucket/tiles_checkpoint

Local smoke:
    python scripts/submit_pipeline.py --synthetic 100000 --output /tmp/tiles_out

Resumable: completed tiles live in the Iceberg-lite checkpoint table with
lineage + row counts; re-submitting after a kill skips them (anti-join).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet images table (image_id, bytes, w, h, fmt, caption, phash, lon, lat)")
    ap.add_argument("--synthetic", type=int, default=0, help="generate N synthetic rows instead of --input")
    ap.add_argument("--output", required=True, help="output dir for the tile table / checkpoint")
    ap.add_argument("--zoom", type=int, default=12)
    ap.add_argument("--layer", default="images")
    ap.add_argument("--max-per-tile", type=int, default=None)
    ap.add_argument("--checkpoint", default=None, help="Iceberg-lite checkpoint table for resume")
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from vectortiles_spark.operators import resume, tiling
    from vectortiles_spark.session import get_spark
    from vectortiles_spark.sources.iceberg_lite import IcebergLiteTable
    from vectortiles_spark.sources.synth import images_df

    spark = get_spark(app_name="mvt-pipeline")
    if args.synthetic:
        imgs = images_df(spark, args.synthetic)
    else:
        imgs = spark.read.parquet(args.input)

    feats = tiling.point_features(
        imgs, z=args.zoom, layer=args.layer,
        feature_id=F.xxhash64("image_id"),
        meta={"caption": F.col("caption"), "phash": F.col("phash")},
    )

    def encode(f):
        return tiling.encode_tiles(
            f, max_per_tile=args.max_per_tile, partitions=args.partitions,
            single_layer=args.layer,
        )

    if args.checkpoint:
        table = IcebergLiteTable(spark, args.checkpoint)
        snap = resume.run_with_resume(feats, table, encode)
        n = table.read(snap).count()
        print(f"checkpoint snapshot {snap}: {n} tiles total")
    else:
        tiles = encode(feats)
        tiles.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(f"wrote {n} tiles to {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
