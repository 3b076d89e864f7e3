"""Pyramid-build ETL job — the `versatiles convert` analog at scale.

Stages: synthesize/scan images -> assign tiles at z_max -> reduce to one
payload per tile (first-wins overlay) -> iterative overview roll-up
z_max -> z_min with ONE COMMIT PER LEVEL (sinks/checkpoint.py), so a killed
run resumes after the last committed level. Finish with a Hilbert-sorted
export of the full pyramid (PMTiles order) and its TileJSON.

    spark-submit --py-files dist/versatiles_rs_spark.zip \
        jobs/pyramid_job.py --n-images 640000 --z-max 8 --z-min 4 \
        --out /data/pyramid

Prints one JSON metrics line (per-level rows from the commit metadata).
"""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=100000)
    ap.add_argument("--z-max", type=int, default=8)
    ap.add_argument("--z-min", type=int, default=4)
    ap.add_argument("--tile-size", type=int, default=64)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from versatiles_rs_spark.session import get_job_spark

    spark = get_job_spark("pyramid")
    from versatiles_rs_spark import fixtures
    from versatiles_rs_spark.sinks.checkpoint import LevelCheckpointer, build_pyramid_resumable
    from versatiles_rs_spark.sinks.writers import verify_hilbert_monotonic, write_hilbert_sorted
    from versatiles_rs_spark.sources.containers import tilejson_for

    t0 = time.time()
    parts = spark.sparkContext.defaultParallelism * 4
    imgs = fixtures.images_with_tiles_df(
        spark, args.n_images, size=args.tile_size, zoom=args.z_max, partitions=parts
    )
    # one payload per tile: first-wins overlay (from_stacked semantics,
    # deterministic min image_id)
    base = (
        imgs.groupBy("z", "x", "y")
        .agg(F.min_by("bytes", "image_id").alias("bytes"))
        .withColumn("fmt", F.lit("png"))
    )
    levels = build_pyramid_resumable(
        spark, base, args.out + "/levels", z_max=args.z_max, z_min=args.z_min,
        tile_size=args.tile_size,
    )
    union = None
    for z, df in levels.items():
        cur = df.select("z", "x", "y", "bytes")
        union = cur if union is None else union.unionByName(cur)
    write_hilbert_sorted(union, args.out + "/pmtiles_order")
    ordered_ok = verify_hilbert_monotonic(spark, args.out + "/pmtiles_order")

    ck = LevelCheckpointer(spark, args.out + "/levels")
    tj = tilejson_for(spark.read.parquet(args.out + "/pmtiles_order"))
    with open(args.out + "/tilejson.json", "w") as f:
        json.dump(tj, f)
    print(
        json.dumps(
            {
                "job": "pyramid",
                "n_images": args.n_images,
                "levels": {z: ck.metrics(z)["n_rows"] for z in sorted(levels)},
                "hilbert_order_ok": bool(ordered_ok),
                "minzoom": tj["minzoom"],
                "maxzoom": tj["maxzoom"],
                "sec": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
