"""Cluster entry point for the flagship pipeline.

Run via spark-submit with the packaged engine (north rule deployment shape):

    python tools/make_pyfiles_zip.py                      # -> dist/versatiles_rs_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/versatiles_rs_spark.zip \
        jobs/flagship_job.py --n-images 1000000 --zoom 12 --out /data/tiles_out

On a real cluster `--master yarn/k8s` and executor counts come from the
submit conf; the job body is identical. Prints one JSON metrics line.
"""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=100000)
    ap.add_argument("--zoom", type=int, default=12)
    ap.add_argument("--n-polygons", type=int, default=200)
    ap.add_argument("--out", default=None, help="optional output dir (parquet, level-committed)")
    args = ap.parse_args()

    from versatiles_rs_spark.session import get_job_spark

    spark = get_job_spark("flagship")
    from versatiles_rs_spark.pipeline import flagship
    from versatiles_rs_spark.sinks.checkpoint import LevelCheckpointer

    t0 = time.time()
    out = flagship(spark, n_images=args.n_images, zoom=args.zoom, n_polygons=args.n_polygons)
    if args.out:
        ck = LevelCheckpointer(spark, args.out, job_id="flagship")
        committed = ck.checkpoint(args.zoom, out, payload=None)
        n_rows = committed.count()
    else:
        n_rows = out.count()
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "job": "flagship",
                "n_images": args.n_images,
                "result_rows": int(n_rows),
                "sec": round(dt, 2),
                "rows_per_sec": round(args.n_images / dt, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
