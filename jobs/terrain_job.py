"""Terrain-analytics ETL job — the hydrology counterpart of pyramid_job /
curation_job: ingest a DEM tile layer, fill depressions, extract the
stream network and drainage basins, and publish the stream layer as an
MVT container — ONE COMMIT PER STAGE (sinks/checkpoint.py: parquet +
_SUCCESS + metrics/lineage sidecar), so a killed run resumes after the
last committed stage.

Stages (each a LevelCheckpointer commit):
  1 dem      — DEM tile ingest (fixtures at the chosen zoom; in
               production a container read), payload committed once
  2 filled   — Priority-Flood depression filling (operators/hydro.
               fill_depressions emit="tiles"): the hydrologically
               conditioned surface, committed as PNG tiles
  3 streams  — two-phase flow accumulation over the FILLED tiles,
               thresholded to the channel network; commits the SLIM
               (gx, gy, acc) relation, never payload
  4 basins   — drainage-basin sizes from pointer doubling over the
               filled surface; slim (bx, by, n_px)
  5 orders   — Strahler stream order per channel cell (segment
               contraction + driver Kahn solve); slim (id, strahler)
  6 export   — the stream network rendered as MVT choropleth tiles
               (accumulation + order properties) and published to an
               .mbtiles container (servable as-is)

    spark-submit --py-files dist/versatiles_rs_spark.zip \
        jobs/terrain_job.py --zoom 2 --out /data/terrain [--bowls]

Prints one JSON metrics line (per-stage wall seconds + hydrology stats).
`--bowls` swaps in the pitted zoom-1 fixture whose fill volume has a
closed form — a self-check that the deployed chain matches the oracle'd
registry queries.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(spark, zoom: int, out: str, min_accum: int, super_tiles: int, bowls: bool):
    from pyspark.sql import functions as F

    from versatiles_rs_spark import fixtures, guard
    from versatiles_rs_spark.operators.focal import (
        d8_basins,
        d8_successors,
        focal_terrain_pixels,
    )
    from versatiles_rs_spark.operators.hydro import (
        fill_depressions,
        flow_accumulation,
        strahler_order,
    )
    from versatiles_rs_spark.sinks.checkpoint import LevelCheckpointer
    from versatiles_rs_spark.sources.mbtiles import write_mbtiles
    from versatiles_rs_spark.vector_tile import cells_to_choropleth_tiles

    ck = LevelCheckpointer(spark, out + "/stages", job_id="terrain")
    stage_s: dict[str, float] = {}
    stats: dict = {"zoom": zoom, "min_accum": min_accum, "bowls": bowls}

    def timed(name, level, build, payload="bytes"):
        t0 = time.time()
        committed = ck.is_committed(level)
        df = ck.checkpoint(level, None if committed else build(), payload=payload)
        stage_s[name] = round(time.time() - t0, 2)
        stats[f"{name}_resumed"] = committed
        return df

    # 1 DEM ingest
    def build_dem():
        if bowls:
            t = fixtures.dem_bowls_raster_df(spark, partitions=4)
        else:
            t = fixtures.dem_raster_df(spark, zoom=zoom, partitions=min(32, 4 ** zoom))
        return t.select(F.lit(zoom).alias("z"), "x", "y", "bytes", F.lit("png").alias("fmt"))

    dem = timed("dem", 1, build_dem)
    stats["n_tiles"] = dem.count()

    # 2 depression filling -> conditioned surface tiles
    def build_filled():
        t = dem.select("x", "y", "bytes")
        return fill_depressions(t, super_tiles=super_tiles, emit="tiles").select(
            F.lit(zoom).alias("z"), "x", "y", "bytes", "fmt"
        )

    with guard.recording() as rec:
        filled = timed("filled", 2, build_filled)
    if "fill_depressions" in rec:  # absent when the stage resumed
        stats["watershed_nodes"] = rec["fill_depressions"]["nodes"]
        stats["watershed_edges"] = rec["fill_depressions"]["rows"]

    # 3 stream network (slim relation)
    def build_streams():
        return flow_accumulation(
            filled.select("x", "y", "bytes"),
            super_tiles=super_tiles,
            min_accum=min_accum,
        )

    streams = timed("streams", 3, build_streams, payload=None)
    agg = streams.agg(
        F.count("*").alias("n"), F.max("acc").alias("mx")
    ).collect()[0]
    stats["stream_pixels"] = agg["n"]
    stats["max_accum"] = agg["mx"]

    # 4 basin sizes (slim)
    def build_basins():
        pixels = focal_terrain_pixels(filled.select("x", "y", "bytes"))
        labels = d8_basins(d8_successors(pixels), rounds=8)
        return labels.groupBy(
            F.expr("label div 4294967296").alias("bx"),
            (F.col("label") % 4294967296).alias("by"),
        ).agg(F.count("*").alias("n_px"))

    basins = timed("basins", 4, build_basins, payload=None)
    stats["n_basins"] = basins.count()

    # 5 Strahler stream orders (slim; joins back into the export layer)
    def build_orders():
        pixels = focal_terrain_pixels(filled.select("x", "y", "bytes"))
        sids = streams.select(
            (F.col("gx") * F.lit(4294967296) + F.col("gy")).alias("id")
        )
        return strahler_order(d8_successors(pixels), sids)

    orders = timed("orders", 5, build_orders, payload=None)
    stats["max_order"] = orders.agg(F.max("strahler")).collect()[0][0]

    # 6 export: stream MVT tiles (acc + order properties) -> mbtiles
    t0 = time.time()
    mbt = os.path.join(out, "streams.mbtiles")
    if not os.path.exists(mbt + ".done"):
        render_zoom = max(0, zoom + 8 - 3)  # 8x8 px per rendered tile cell
        cells = (
            streams.select(
                F.col("gx").alias("x"),
                F.col("gy").alias("y"),
                "acc",
                (F.col("gx") * F.lit(4294967296) + F.col("gy")).alias("id"),
            )
            .join(orders.withColumnRenamed("strahler", "ord"), "id")
            .drop("id")
        )
        mvt = cells_to_choropleth_tiles(
            cells,
            cell_zoom=zoom + 8,
            render_zoom=render_zoom,
            value_cols=("acc", "ord"),
            layer="streams",
        )
        n = write_mbtiles(
            mvt.select(F.col("z"), "x", "y", "bytes"), mbt, {"format": "pbf"}
        )
        with open(mbt + ".done", "w") as f:
            f.write(str(n))
        stats["exported_tiles"] = n
        stats["export_resumed"] = False
    else:
        stats["exported_tiles"] = int(open(mbt + ".done").read())
        stats["export_resumed"] = True
    stage_s["export"] = round(time.time() - t0, 2)

    stats["stage_s"] = stage_s
    stats["total_s"] = round(sum(stage_s.values()), 2)
    return stats


def main(argv=None):
    ap = argparse.ArgumentParser(prog="terrain_job")
    ap.add_argument("--zoom", type=int, default=2)
    ap.add_argument("--out", required=True)
    ap.add_argument("--min-accum", type=int, default=64)
    ap.add_argument("--super-tiles", type=int, default=1)
    ap.add_argument("--bowls", action="store_true",
                    help="use the pitted zoom-1 fixture (closed-form fill volume)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from versatiles_rs_spark.session import get_spark

    spark = get_spark(app_name="terrain_job", master=args.master)
    if args.bowls:
        args.zoom = 1
    stats = run(spark, args.zoom, args.out, args.min_accum, args.super_tiles, args.bowls)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
