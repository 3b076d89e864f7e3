"""Incremental tile-pyramid refresh job — the production counterpart of
pyramid_job.py: instead of rebuilding the pyramid, ingest a re-rendered
batch, detect which tiles ACTUALLY changed, propagate only their
ancestors, and publish each level as an atomic snapshot commit.

Composes the engine's incremental stack end to end:
  sinks/snapshots.py       one SnapshotTable per pyramid level, atomic
                           HEAD-swap commits, idempotent commit ids (a
                           killed refresh re-runs as a no-op)
  operators/diff.py        tile_diff against the committed base level:
                           tiles whose re-render is byte-identical are
                           dropped from the work-list (fingerprint only —
                           payloads never shuffle)
  operators/raster.py      incremental_pyramid_update: dirty-propagation,
                           O(|changed| x levels) instead of O(pyramid)

Deltas are committed as APPENDs carrying a _v column; `read_latest` is the
merge-on-read view (max _v per tile key).  At 100 TB that is the entire
point: a 0.1% daily re-render commits ~0.4% of tiles and the other 99.6%
of the pyramid is untouched storage.

    spark-submit --py-files dist/versatiles_rs_spark.zip \
        jobs/refresh_job.py --out /data/pyr --grid-zoom 3 --versions 2

Prints one JSON metrics line per refresh (changed counts per level).
"""

from __future__ import annotations

import argparse
import json
import time


def make_base(spark, z_max: int, content_version: int, refresh_mod: int, tile_size: int = 64):
    """Deterministic rendered base level: a full 2^z x 2^z grid of PNG
    tiles.  `content_version` bumps the pixel seed ONLY for tiles whose
    splitmix(key) % refresh_mod == 0 — the re-rendered subset; every other
    tile re-renders byte-identically (so tile_diff must prune it)."""
    import pandas as pd

    from versatiles_rs_spark.codecs import encode_image
    from versatiles_rs_spark.fixtures import make_pixels, splitmix64
    import numpy as np

    g = 1 << z_max
    rows = []
    for x in range(g):
        for y in range(g):
            key = x * g + y
            # NB: uint64 % python-int silently promotes to float64 in numpy
            # (precision loss at 2^64 scale) — keep the modulus uint64
            hot = int(splitmix64(np.array([key], dtype=np.uint64))[0] % np.uint64(refresh_mod)) == 0
            seed = key + (1000 * content_version if hot else 0)
            rows.append((z_max, x, y, encode_image(make_pixels(seed, tile_size), "png"), "png"))
    pdf = pd.DataFrame(rows, columns=["z", "x", "y", "bytes", "fmt"])
    return spark.createDataFrame(pdf, schema="z int, x long, y long, bytes binary, fmt string")


def read_latest(table):
    """Merge-on-read over appended deltas: newest _v wins per tile key."""
    return table.read_merged(["z", "x", "y"])


def run(spark, out: str, z_max: int = 3, z_min: int = 0, versions: int = 1,
        refresh_mod: int = 8, tile_size: int = 64):
    from pyspark.sql import functions as F

    from versatiles_rs_spark.operators.diff import tile_diff
    from versatiles_rs_spark.operators.raster import build_pyramid, incremental_pyramid_update
    from versatiles_rs_spark.sinks.snapshots import SnapshotTable

    # stat_cols: commits record per-file z/x/y zone maps, so the serving
    # path (server.serve_snapshot_tiles) plans point lookups over only the
    # files that can contain the requested tile
    tables = {
        z: SnapshotTable(spark, f"{out}/z{z}", stat_cols=["z", "x", "y"])
        for z in range(z_min, z_max + 1)
    }
    all_metrics = []

    def committer(version: int, op: str):
        # commit a level, return the READ-BACK delta (checkpoint_fn contract:
        # without the read-back, every per-level write re-executes the whole
        # upstream mosaic lineage — measured 4x wall clock on this job)
        def ck(z: int, df):
            commit = getattr(tables[z], f"commit_{op}")
            snap = commit(df.coalesce(4).withColumn("_v", F.lit(version)),
                          commit_id=f"{'base' if op == 'overwrite' else f'refresh{version}'}-z{z}")
            return tables[z].changes(snap.parent, snap.version).drop("_v") \
                if snap.parent is not None else tables[z].read(snap.version).drop("_v")
        return ck

    if tables[z_max].current_version() is None:
        base = make_base(spark, z_max, content_version=0, refresh_mod=refresh_mod,
                         tile_size=tile_size)
        build_pyramid(base, z_max, z_min, tile_size=tile_size,
                      checkpoint_fn=committer(0, "overwrite"))
        # the base level itself (build_pyramid checkpoints only z < z_max)
        tables[z_max].commit_overwrite(base.coalesce(4).withColumn("_v", F.lit(0)),
                                       commit_id="base-z" + str(z_max))
        all_metrics.append({"version": 0, "op": "base", "tiles": base.count()})

    for v in range(1, versions + 1):
        if tables[z_min].find_commit(f"refresh{v}-z{z_min}") is not None:
            all_metrics.append({"version": v, "op": "resume-noop"})
            continue
        batch = make_base(spark, z_max, content_version=v, refresh_mod=refresh_mod,
                          tile_size=tile_size)
        old_levels = {z: read_latest(tables[z]) for z in range(z_min, z_max + 1)}
        # work-list: only tiles whose re-render differs from the committed base
        delta_keys = tile_diff(
            old_levels[z_max], batch, payload_col="bytes"
        ).filter(F.col("change") != "removed")
        changed = batch.join(delta_keys.select("z", "x", "y"), on=["z", "x", "y"],
                             how="left_semi")
        deltas = incremental_pyramid_update(
            old_levels, changed, z_max=z_max, z_min=z_min, tile_size=tile_size,
            checkpoint_fn=committer(v, "append"),
        )
        counts = {z: deltas[z].count() for z in deltas}  # committed scans, cheap
        all_metrics.append({"version": v, "op": "refresh",
                            "changed_per_level": {str(z): counts[z] for z in sorted(counts)}})
    return tables, all_metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--grid-zoom", type=int, default=3)
    ap.add_argument("--z-min", type=int, default=0)
    ap.add_argument("--versions", type=int, default=1)
    ap.add_argument("--refresh-mod", type=int, default=8)
    args = ap.parse_args()

    import os

    from versatiles_rs_spark.session import get_job_spark

    # tiny-relation pyramid levels: spark-submit's default 200 shuffle
    # partitions = pure task overhead here
    spark = get_job_spark(
        "refresh", {"spark.sql.shuffle.partitions": str(os.cpu_count() or 8)}
    )
    t0 = time.time()
    _, metrics = run(spark, args.out, z_max=args.grid_zoom, z_min=args.z_min,
                     versions=args.versions, refresh_mod=args.refresh_mod)
    print(json.dumps({"sec": round(time.time() - t0, 1), "runs": metrics}))


if __name__ == "__main__":
    main()
