"""Spatial-analytics CLI — the engine's point-analysis toolbox over any
parquet point table (the analytics counterpart of tools/convert and
tools/probe; the reference's toolbox stops at convert/probe/serve, this
command exposes the engine-side analyses the reference has no analog for).

    python tools/analyze.py hotspots  pts.parquet [--zoom 6] [--top 10]
    python tools/analyze.py trends    pts.parquet [--zoom 6] [--bins 8] [--top 10]
    python tools/analyze.py emerging  pts.parquet [--zoom 6] [--bins 8] [--top 10]
    python tools/analyze.py dbscan    pts.parquet [--eps 2.0] [--min-pts N]
    python tools/analyze.py od        pts.parquet [--by user_id] [--zoom 6]
    python tools/analyze.py moran     pts.parquet [--zoom 6]         # global I + LISA
    python tools/analyze.py geary     pts.parquet [--zoom 6]         # global C
    python tools/analyze.py ripley    pts.parquet [--radii 0.25,0.5,1.0]
    python tools/analyze.py idw       pts.parquet [--zoom 6]         # gap filling
    python tools/analyze.py shortest  pts.parquet [--by user_id] [--zoom 6]
    python tools/analyze.py stdbscan  pts.parquet [--eps 2.0] [--eps-time 3600]
    python tools/analyze.py similar   pts.parquet [--by user_id] [--zoom 6]
    python tools/analyze.py coloc     pts.parquet [--type event_type] [--radius-deg 1.0]
    python tools/analyze.py kde       pts.parquet [--zoom 6] [--radius 2]
    python tools/analyze.py clusters  pts.parquet [--zoom 6]         # marker bubbles
    python tools/analyze.py regions   pts.parquet [--zoom 6] [--min-cells 8]
    python tools/analyze.py distance  pts.parquet [--zoom 6] [--max-dist D]
    python tools/analyze.py contacts  pts.parquet [--by user_id] [--bucket-seconds 86400]
    python tools/analyze.py center    pts.parquet [--by user_id]   # mean + median centers
    python tools/analyze.py variogram pts.parquet [--value value] [--radius-deg 1.0]
    python tools/analyze.py mapmatch  pts.parquet --segments seg.parquet [--steps 6]
    python tools/analyze.py kmeans    pts.parquet [--k 8] [--rounds 4]
    python tools/analyze.py all       pts.parquet
    python tools/analyze.py hydro     dem.{mbtiles,pmtiles,versatiles,tar,parquet}
                                      [--zoom Z] [--min-accum 64] [--super-tiles 1]
    python tools/analyze.py viewshed  dem.<container> [--observers gx,gy;...]
                                      [--radius R] [--height H]
    python tools/analyze.py polygonize dem.<container> [--band-step 32]
    python tools/analyze.py cost      cost.<container> [--sources gx,gy;...]
                                      [--targets gx,gy;...] [--blocked V]
    python tools/analyze.py imgqc     tiles.<container> [--zoom Z]
                                      [--min-var-milli 100] [--min-entropy-fp 2097152]

`hydro` is the raster command: it takes a TILE source (any container the
engine reads, or a parquet tile table) holding single-band DEM tiles at
--zoom, and runs the hydrology stack — optional Priority-Flood
depression filling (--fill) + D8 basins (pointer doubling) + two-phase
flow accumulation — printing fill, basin and stream-network stats.
`viewshed` runs the integer-exact R3 observer viewshed; `polygonize`
vectorizes elevation bands into ring/hole features; `cost` runs cost
distance + allocation (and least-cost paths when --targets is given)
treating the band as a traversal-cost raster.

Expected columns: lon/lat (double); trends/emerging also need ts
(timestamp); dbscan needs an id column (--id, default the first column).
Every command prints a compact JSON summary to stdout (machine-friendly,
one object per analysis) and a short human table to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _top_rows(df, order_col, top, ascending=False):
    col = df[order_col] if ascending else df[order_col].desc()
    return [r.asDict() for r in df.orderBy(col).limit(top).collect()]


def _load_tiles(spark, path: str, zoom: int):
    """Open any tile source the engine reads (container or parquet tile
    table) and narrow it to one zoom level's (x, y, bytes)."""
    if path.endswith(".mbtiles"):
        from versatiles_rs_spark.sources.mbtiles import read_mbtiles

        df = read_mbtiles(spark, path, zoom=zoom)
    elif path.endswith(".pmtiles"):
        from versatiles_rs_spark.sources.pmtiles import read_pmtiles

        df = read_pmtiles(spark, path)
    elif path.endswith(".versatiles"):
        from versatiles_rs_spark.sources.versatiles import read_versatiles

        df = read_versatiles(spark, path)
    elif path.endswith(".tar"):
        from versatiles_rs_spark.sources.tar import read_tar

        df = read_tar(spark, path)
    else:
        from versatiles_rs_spark.sources.containers import read_tile_table

        df = read_tile_table(spark, path, zoom_range=(zoom, zoom))
    from pyspark.sql import functions as F

    if "z" in df.columns:
        df = df.filter(F.col("z") == zoom)
    return df.select("x", "y", "bytes")


def _run_hydro(spark, args, F) -> dict:
    """DEM hydrology over a tile source: D8 basins + flow accumulation."""
    from versatiles_rs_spark import guard
    from versatiles_rs_spark.operators.focal import (
        d8_basins,
        d8_successors,
        focal_terrain_pixels,
    )
    from versatiles_rs_spark.operators.hydro import (
        fill_depressions,
        flow_accumulation,
        resolve_flats,
    )

    tiles = _load_tiles(spark, args.table, args.zoom).localCheckpoint()
    fill_stats = None
    if args.fill:
        with guard.recording() as rec:
            filled_px = fill_depressions(
                tiles, tile_size=args.tile_size, super_tiles=args.super_tiles,
            )
        raised = filled_px.filter(F.col("filled") > F.col("elev"))
        agg = raised.agg(
            F.count("*").alias("n"), F.sum(F.col("filled") - F.col("elev")).alias("vol")
        ).collect()[0]
        fill_stats = {
            "raised_pixels": agg["n"], "fill_volume": agg["vol"] or 0,
            "watershed_nodes": rec["fill_depressions"]["nodes"],
            "watershed_edges": rec["fill_depressions"]["rows"],
        }
        tiles = fill_depressions(
            tiles, tile_size=args.tile_size, super_tiles=args.super_tiles,
            emit="tiles",
        ).select("x", "y", "bytes").localCheckpoint()
    resolve_stats = None
    d8_ovr = None
    if args.resolve_flats:
        with guard.recording() as rec:
            d8_ovr = resolve_flats(
                tiles, tile_size=args.tile_size, super_tiles=args.super_tiles,
            ).localCheckpoint()
        resolve_stats = {
            "resolved_flats": d8_ovr.filter(F.col("d8") > 0).count(),
            "unresolved_flats": d8_ovr.filter(F.col("d8") == 0).count(),
            "bfs_rounds": rec["resolve_flats"]["rounds"],
        }
    pixels = focal_terrain_pixels(tiles, tile_size=args.tile_size).localCheckpoint()
    if d8_ovr is not None:
        # basins / strahler follow the resolved directions too: patch the
        # pixel relation's d8 with a slim left join on the flat cells
        pixels = (
            pixels.join(
                d8_ovr.filter(F.col("d8") > 0).select(
                    "gx", "gy", F.col("d8").alias("rd8")
                ),
                ["gx", "gy"], "left",
            )
            .withColumn("d8", F.coalesce("rd8", "d8"))
            .drop("rd8")
            .localCheckpoint()
        )
    with guard.recording() as basin_rec:
        basins = d8_basins(d8_successors(pixels), rounds=None)
    sizes = basins.groupBy("label").agg(F.count("*").alias("n_px"))
    base = 4294967296
    largest = [
        {"bx": r["label"] // base, "by": r["label"] % base, "n_px": r["n_px"]}
        for r in sizes.orderBy(F.col("n_px").desc(), "label").limit(args.top).collect()
    ]
    with guard.recording() as acc_rec:
        acc = flow_accumulation(
            tiles, tile_size=args.tile_size, super_tiles=args.super_tiles,
            d8_override=d8_ovr,
        ).localCheckpoint()
    acc_stats = acc.agg(
        F.max("acc").alias("mx"),
        F.sum((F.col("acc") >= args.min_accum).cast("long")).alias("streams"),
    ).collect()[0]
    from versatiles_rs_spark.operators.hydro import strahler_order

    streams_ids = acc.filter(F.col("acc") >= args.min_accum).select(
        (F.col("gx") * F.lit(base) + F.col("gy")).alias("id")
    )
    with guard.recording() as order_rec:
        orders = strahler_order(d8_successors(pixels), streams_ids)
    order_hist = {
        int(r["strahler"]): int(r["n"])
        for r in orders.groupBy("strahler").agg(F.count("*").alias("n")).collect()
    }
    return {
        "table": args.table,
        "hydro": {
            "zoom": args.zoom,
            "filled": fill_stats,
            "flats": resolve_stats,
            "n_tiles": tiles.count(),
            "n_pixels": pixels.count(),
            "n_basins": sizes.count(),
            "basin_rounds": basin_rec["d8_basins"]["rounds"],
            "largest_basins": largest,
            "max_accum": acc_stats["mx"],
            "stream_pixels": acc_stats["streams"],
            "min_accum": args.min_accum,
            "coarse_rounds": acc_rec["flow_accumulation"]["rounds"],
            "strahler_orders": order_hist,
            "n_junctions": order_rec["strahler_order"].get("junctions"),
        },
    }


def _run_viewshed(spark, args) -> dict:
    """Observer viewshed over a tile source: per-observer visible-cell
    counts under the integer-exact R3 rule (operators/viewshed.py)."""
    from pyspark.sql import functions as F

    from versatiles_rs_spark.operators.viewshed import viewshed

    observers = []
    for i, spec in enumerate(args.observers.split(";")):
        x, y = spec.split(",")
        observers.append((i + 1, int(x), int(y)))
    tiles = _load_tiles(spark, args.table, args.zoom)
    out = viewshed(
        tiles, observers, radius=args.radius, height=args.height,
        tile_size=args.tile_size,
    )
    rows = (
        out.groupBy("oid")
        .agg(
            F.count("*").alias("cells"),
            F.sum("visible").alias("visible"),
        )
        .orderBy("oid")
        .collect()
    )
    return {
        "table": args.table,
        "viewshed": {
            "radius": args.radius,
            "height": args.height,
            "observers": [
                {
                    "oid": r["oid"],
                    "cells": r["cells"],
                    "visible": int(r["visible"]),
                    "pct": round(100.0 * r["visible"] / r["cells"], 2),
                }
                for r in rows
            ],
        },
    }


def _run_polygonize(spark, args) -> dict:
    """Polygonize elevation bands (elev // band-step) over a tile source:
    per-zone ring/hole/perimeter stats from the chained features."""
    from versatiles_rs_spark.operators.polygonize import (
        polygonize_features,
        zone_boundary_edges,
    )

    step = args.band_step
    tiles = _load_tiles(spark, args.table, args.zoom)
    edges = zone_boundary_edges(
        tiles, lambda v: v // step, tile_size=args.tile_size
    ).toPandas()
    feats = polygonize_features(edges)
    zones = []
    for f in feats:
        g = f["geometry"]
        polys = [g["coordinates"]] if g["type"] == "Polygon" else g["coordinates"]
        zones.append(
            {
                "zone": f["properties"]["zone"],
                "parts": len(polys),
                "holes": sum(len(p) - 1 for p in polys),
                "perimeter_vertices": sum(
                    len(ring) - 1 for p in polys for ring in p
                ),
            }
        )
    return {
        "table": args.table,
        "polygonize": {
            "band_step": step,
            "boundary_edges": int(len(edges)),
            "n_zones": len(zones),
            "zones": zones,
        },
    }


def _run_cost(spark, args) -> dict:
    """Cost distance / allocation / least-cost paths over a tile source
    treated as a cost raster (operators/costdist.py)."""
    from pyspark.sql import functions as F

    from versatiles_rs_spark import guard
    from versatiles_rs_spark.operators.costdist import (
        cost_distance,
        least_cost_path,
    )

    def parse_cells(spec):
        return [tuple(map(int, p.split(","))) for p in spec.split(";") if p]

    sources = parse_cells(args.sources)
    targets = parse_cells(args.targets) if args.targets else []
    tiles = _load_tiles(spark, args.table, args.zoom).localCheckpoint()
    with guard.recording() as rec:
        cd = cost_distance(
            tiles, sources, tile_size=args.tile_size, blocked=args.blocked,
            allocate=True, super_tiles="auto",
        ).localCheckpoint()
    agg = cd.agg(
        F.count("*").alias("cells"),
        F.sum((F.col("dist") >= 0).cast("long")).alias("reachable"),
        F.max("dist").alias("max_dist"),
    ).collect()[0]
    alloc = {
        int(r["src"]): int(r["n"])
        for r in cd.filter(F.col("src") > 0)
        .groupBy("src").agg(F.count("*").alias("n")).collect()
    }
    out = {
        "table": args.table,
        "cost": {
            "sources": len(sources),
            "cells": agg["cells"],
            "reachable": int(agg["reachable"]),
            "max_dist": int(agg["max_dist"]),
            "dijkstra_rounds": rec["cost_distance"]["rounds"],
            "allocation": alloc,
        },
    }
    if targets:
        paths = least_cost_path(
            tiles, sources, targets, tile_size=args.tile_size,
            blocked=args.blocked, super_tiles="auto",
        )
        rows = (
            paths.groupBy("tid")
            .agg(F.count("*").alias("cells"), F.max("dist").alias("total"))
            .orderBy("tid")
            .collect()
        )
        out["cost"]["paths"] = [
            {"tid": r["tid"], "cells": r["cells"], "total_cost": int(r["total"])}
            for r in rows
        ]
    return out


def _run_imgqc(spark, args) -> dict:
    """Image-quality gates over a tile source: per-tile variance-of-
    Laplacian sharpness + exact fixed-point pixel-histogram entropy,
    summarized as distribution stats + gate counts."""
    from pyspark.sql import functions as F

    from versatiles_rs_spark.operators.focal import sharpness_stats
    from versatiles_rs_spark.operators.raster import tile_value_hist
    from versatiles_rs_spark.udfs import log2_fp_stages

    tiles = _load_tiles(spark, args.table, args.zoom).cache()
    if tiles.limit(1).count() == 0:
        raise SystemExit(f"imgqc: no tiles at zoom {args.zoom} in {args.table}")
    sh = sharpness_stats(tiles, tile_size=args.tile_size)
    var_milli = F.expr(
        "(n_px * sum_lap2 - sum_lap * sum_lap) * 1000 div (n_px * n_px)"
    )
    sagg = sh.select(var_milli.alias("vm")).agg(
        F.count("*").alias("n"),
        F.min("vm").alias("lo"), F.max("vm").alias("hi"),
        F.sum((F.col("vm") < args.min_var_milli).cast("long")).alias("blurry"),
    ).collect()[0]
    cur = tile_value_hist(tiles, tile_size=args.tile_size)
    for name, expr in log2_fp_stages(20, x_col="c"):
        cur = cur.withColumn(name, F.expr(expr))
    agg = cur.groupBy("x", "y").agg(
        F.sum("c").alias("n_px"),
        F.sum(F.col("c") * F.col("lg")).alias("term"),
    )
    for name, expr in log2_fp_stages(20, x_col="n_px"):
        agg = agg.withColumn(name, F.expr(expr))
    efp = F.col("lg") - F.expr("term div n_px")
    eagg = agg.select(efp.alias("e")).agg(
        F.min("e").alias("lo"), F.max("e").alias("hi"),
        F.sum((F.col("e") < args.min_entropy_fp).cast("long")).alias("low_info"),
    ).collect()[0]
    scale = 1 << 20
    return {
        "table": args.table,
        "imgqc": {
            "tiles": sagg["n"],
            "var_milli": {"min": int(sagg["lo"]), "max": int(sagg["hi"])},
            "blurry": int(sagg["blurry"]),
            "min_var_milli": args.min_var_milli,
            "entropy_bits": {
                "min": round(eagg["lo"] / scale, 4),
                "max": round(eagg["hi"] / scale, 4),
            },
            "low_info": int(eagg["low_info"]),
            "min_entropy_fp": args.min_entropy_fp,
        },
    }


def main(argv=None):
    ap = argparse.ArgumentParser(prog="analyze")
    ap.add_argument(
        "command",
        choices=["hotspots", "trends", "emerging", "dbscan", "od",
                 "moran", "geary", "ripley", "idw", "shortest",
                 "stdbscan", "similar", "coloc", "kde", "clusters",
                 "regions", "distance", "contacts", "center", "variogram",
                 "mapmatch", "kmeans",
                 "hydro", "viewshed", "polygonize", "cost", "imgqc",
                 "all"],
    )
    ap.add_argument("table")
    ap.add_argument("--zoom", type=int, default=6)
    ap.add_argument("--bins", type=int, default=8)
    ap.add_argument("--eps", type=float, default=2.0)
    ap.add_argument("--radius", type=int, default=2,
                    help="kernel radius in cells for the kde command")
    ap.add_argument("--radii", default="0.25,0.5,1.0",
                    help="comma-separated radii in degrees for the ripley command")
    ap.add_argument("--min-pts", type=int, default=None)
    ap.add_argument("--min-cells", type=int, default=8,
                    help="sieve threshold in cells (regions)")
    ap.add_argument("--max-dist", type=int, default=None,
                    help="distance horizon in cells (distance)")
    ap.add_argument("--eps-time", type=int, default=3600,
                    help="temporal radius in seconds for the stdbscan command")
    ap.add_argument("--type", dest="type_col", default="event_type",
                    help="feature-type column for the coloc command")
    ap.add_argument("--radius-deg", type=float, default=1.0,
                    help="neighbor radius in degrees for the coloc command")
    ap.add_argument("--id", dest="id_col", default=None)
    ap.add_argument("--min-accum", type=int, default=64,
                    help="stream-network accumulation threshold (hydro)")
    ap.add_argument("--fill", action="store_true",
                    help="fill depressions (Priority-Flood) before flow analysis (hydro)")
    ap.add_argument("--resolve-flats", action="store_true",
                    help="resolve flat drainage (Garbrecht-Martz BFS) and route "
                         "basins/accumulation through it (hydro)")
    ap.add_argument("--super-tiles", type=int, default=1,
                    help="super-tile side in tiles for flow accumulation (hydro)")
    ap.add_argument("--tile-size", type=int, default=256,
                    help="pixel side of each DEM tile (hydro/viewshed/polygonize)")
    ap.add_argument("--observers", default="256,256",
                    help="semicolon-separated gx,gy observer cells (viewshed)")
    ap.add_argument("--height", type=int, default=2,
                    help="observer eye height above terrain (viewshed)")
    ap.add_argument("--min-var-milli", type=int, default=100,
                    help="sharpness gate: min variance-of-Laplacian in "
                         "milli-units per pixel (imgqc)")
    ap.add_argument("--min-entropy-fp", type=int, default=2 << 20,
                    help="entropy gate: min Shannon entropy in 2^-20 "
                         "fixed point (imgqc; default 2.0 bits)")
    ap.add_argument("--band-step", type=int, default=32,
                    help="elevation band width for zone derivation (polygonize)")
    ap.add_argument("--sources", default="256,256",
                    help="semicolon-separated gx,gy source cells (cost)")
    ap.add_argument("--targets", default="",
                    help="semicolon-separated gx,gy target cells for "
                         "least-cost paths (cost)")
    ap.add_argument("--blocked", type=int, default=None,
                    help="impassable raster value (cost)")
    ap.add_argument("--by", dest="by_col", default="user_id",
                    help="trajectory grouping column for the od command")
    ap.add_argument("--bucket-seconds", type=int, default=86400,
                    help="time-bucket width for the contacts command")
    ap.add_argument("--cell-cap", type=int, default=None,
                    help="drop space-time slots with more users (contacts)")
    ap.add_argument("--value", dest="value_col", default="value",
                    help="field column for the variogram command")
    ap.add_argument("--segments", default="",
                    help="road-segment parquet (sid,x1,y1,x2,y2 milli-units) "
                         "for the mapmatch command")
    ap.add_argument("--steps", type=int, default=6,
                    help="fixes per trajectory window (mapmatch)")
    ap.add_argument("--match-dist", type=int, default=8000,
                    help="candidate search radius in coordinate units (mapmatch)")
    ap.add_argument("--k", type=int, default=8,
                    help="cluster count for the kmeans command")
    ap.add_argument("--rounds", type=int, default=4,
                    help="Lloyd rounds for the kmeans command")
    ap.add_argument("--lon", default="lon")
    ap.add_argument("--lat", default="lat")
    ap.add_argument("--ts", dest="ts_col", default="ts")
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("--master", default="local[8]")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from versatiles_rs_spark import guard
    from versatiles_rs_spark.session import get_spark

    spark = get_spark(app_name="analyze", master=args.master, shuffle_partitions=8)

    if args.command in ("hydro", "viewshed", "polygonize", "cost", "imgqc"):
        if args.command == "hydro":
            out = _run_hydro(spark, args, F)
        elif args.command == "viewshed":
            out = _run_viewshed(spark, args)
        elif args.command == "cost":
            out = _run_cost(spark, args)
        elif args.command == "imgqc":
            out = _run_imgqc(spark, args)
        else:
            out = _run_polygonize(spark, args)
        print(json.dumps(out))
        spark.stop()
        return

    pts = spark.read.parquet(args.table)
    out: dict = {"table": args.table, "n_points": pts.count()}

    cmds = (
        ["hotspots", "trends", "emerging", "dbscan", "od", "moran", "geary",
         "ripley", "idw", "shortest", "stdbscan", "similar", "coloc", "kde",
         "clusters", "regions", "distance", "contacts", "center", "variogram",
         "kmeans"]
        if args.command == "all"
        else [args.command]
    )
    for cmd in cmds:
        if cmd == "hotspots":
            from versatiles_rs_spark.functions.hotspots import getis_ord_hotspots

            df = getis_ord_hotspots(pts, args.lon, args.lat, zoom=args.zoom).cache()
            out["hotspots"] = {
                "zoom": args.zoom,
                "cells": df.count(),
                "significant": df.filter(F.abs("gi") > 1.96).count(),
                "top": _top_rows(df, "gi", args.top),
            }
        elif cmd == "trends":
            from versatiles_rs_spark.functions.trends import mann_kendall_cells

            df = mann_kendall_cells(
                pts, args.lon, args.lat, args.ts_col, zoom=args.zoom, n_bins=args.bins
            ).cache()
            out["trends"] = {
                "zoom": args.zoom,
                "bins": args.bins,
                "cells": df.count(),
                "rising": df.filter(F.col("z") > 1.96).count(),
                "falling": df.filter(F.col("z") < -1.96).count(),
                "top": _top_rows(df, "z", args.top),
            }
        elif cmd == "emerging":
            from versatiles_rs_spark.functions.trends import emerging_gi_cells

            df = emerging_gi_cells(
                pts, args.lon, args.lat, args.ts_col, zoom=args.zoom, n_bins=args.bins
            ).cache()
            out["emerging"] = {
                "zoom": args.zoom,
                "bins": args.bins,
                "cells": df.count(),
                "emerging": df.filter(F.col("mk_z") > 1.96).count(),
                "fading": df.filter(F.col("mk_z") < -1.96).count(),
                "top": _top_rows(df, "mk_z", args.top),
            }
        elif cmd == "od":
            from versatiles_rs_spark.functions.sessions import od_flows

            user_col = args.by_col
            if user_col not in pts.columns or args.ts_col not in pts.columns:
                out["od"] = {"skipped": f"needs {user_col} and {args.ts_col} columns"}
                continue
            # od_flows' determinism contract tie-breaks equal timestamps on
            # (micros, id) — the id must be DISTINCT per event.  Reusing the
            # grouping column (constant within each window) would leave
            # equal-timestamp session endpoints with no deterministic order,
            # so require a real id column instead of silently degrading.
            if "event_id" in pts.columns:
                ev_id = "event_id"
            elif args.id_col and args.id_col in pts.columns and args.id_col != user_col:
                ev_id = args.id_col
            else:
                out["od"] = {
                    "skipped": "needs a distinct per-event id column for "
                    "deterministic (micros, id) ordering: add an event_id "
                    "column or pass --id"
                }
                continue
            df = od_flows(
                pts, args.lon, args.lat, args.ts_col, id_col=ev_id,
                by=(user_col,), zoom=args.zoom,
            ).cache()
            out["od"] = {
                "zoom": args.zoom,
                "flows": df.count(),
                "self_flows": df.filter(
                    (F.col("o_x") == F.col("d_x")) & (F.col("o_y") == F.col("d_y"))
                ).count(),
                "top": _top_rows(df, "n_trips", args.top),
            }
        elif cmd == "moran":
            from versatiles_rs_spark.functions.moran import local_moran, morans_i

            g = morans_i(pts, args.lon, args.lat, zoom=args.zoom).collect()[0]
            lisa = local_moran(pts, args.lon, args.lat, zoom=args.zoom).cache()
            quads = {r["quad"]: r["cnt"] for r in
                     lisa.groupBy("quad").agg(F.count("*").alias("cnt")).collect()}
            out["moran"] = {
                "zoom": args.zoom,
                "i": g.i,
                "e_i": g.e_i,
                "z": g.z,
                "quadrants": quads,
                "top": _top_rows(lisa, "ii", args.top),
            }
        elif cmd == "geary":
            from versatiles_rs_spark.functions.moran import gearys_c

            g = gearys_c(pts, args.lon, args.lat, zoom=args.zoom).collect()[0]
            out["geary"] = {"zoom": args.zoom, "c": g.c, "z": g.z}
        elif cmd == "ripley":
            from versatiles_rs_spark.functions.ripley import ripley_k

            id_col = args.id_col or pts.columns[0]
            radii = tuple(float(r) for r in args.radii.split(","))
            rows = ripley_k(
                pts, id_col=id_col, lon_col=args.lon, lat_col=args.lat,
                radii_deg=radii,
            ).collect()
            out["ripley"] = {
                "radii": [r.asDict() for r in sorted(rows, key=lambda r: r.r_deg)]
            }
        elif cmd == "idw":
            from versatiles_rs_spark.functions.idw import idw_fill

            df = idw_fill(pts, args.lon, args.lat, zoom=args.zoom).cache()
            out["idw"] = {
                "zoom": args.zoom,
                "filled_cells": df.count(),
                "top": _top_rows(df, "est_milli", args.top),
            }
        elif cmd == "shortest":
            from versatiles_rs_spark.functions.graph import shortest_paths_flows
            from versatiles_rs_spark.functions.sessions import od_flows

            user_col = args.by_col
            if (user_col not in pts.columns or args.ts_col not in pts.columns
                    or "event_id" not in pts.columns):
                out["shortest"] = {
                    "skipped": f"needs {user_col}, {args.ts_col} and event_id columns"
                }
                continue
            flows = od_flows(
                pts, args.lon, args.lat, args.ts_col, id_col="event_id",
                by=(user_col,), zoom=args.zoom,
            )
            df = shortest_paths_flows(flows).cache()
            out["shortest"] = {
                "zoom": args.zoom,
                "reachable_cells": df.count(),
                "top": _top_rows(df, "dist", args.top, ascending=True),
            }
        elif cmd == "stdbscan":
            from versatiles_rs_spark.joins.st_dbscan import st_dbscan

            if args.ts_col not in pts.columns:
                out["stdbscan"] = {"skipped": f"needs {args.ts_col} column"}
                continue
            id_col = args.id_col or pts.columns[0]
            with guard.recording() as rec:
                df = st_dbscan(
                    pts, id_col, args.lon, args.lat, args.ts_col,
                    eps_space=args.eps, eps_time_s=args.eps_time,
                    min_pts=args.min_pts,
                ).cache()
            roles = {r["role"]: r["cnt"] for r in
                     df.groupBy("role").agg(F.count("*").alias("cnt")).collect()}
            sizes = (
                df.filter("cluster >= 0").groupBy("cluster")
                .agg(F.count("*").alias("size"))
            )
            out["stdbscan"] = {
                "eps": args.eps,
                "eps_time_s": args.eps_time,
                "min_pts": rec["st_dbscan"]["min_pts"],
                "core": roles.get(2, 0),
                "border": roles.get(1, 0),
                "noise": roles.get(0, 0),
                "episodes": sizes.count(),
                "largest": [r.asDict() for r in
                            sizes.orderBy(F.col("size").desc()).limit(args.top).collect()],
            }
        elif cmd == "similar":
            from versatiles_rs_spark.joins.trajectory import trajectory_similarity

            if args.by_col not in pts.columns:
                out["similar"] = {"skipped": f"needs {args.by_col} column"}
                continue
            df = trajectory_similarity(
                pts, user_col=args.by_col, lon_col=args.lon, lat_col=args.lat,
                zoom=args.zoom,
            ).cache()
            out["similar"] = {
                "zoom": args.zoom,
                "pairs": df.count(),
                "top": _top_rows(df, "j_milli", args.top),
            }
        elif cmd == "contacts":
            from versatiles_rs_spark.joins.trajectory import contact_pairs

            if args.by_col not in pts.columns or args.ts_col not in pts.columns:
                out["contacts"] = {
                    "skipped": f"needs {args.by_col} and {args.ts_col} columns"
                }
                continue
            df = contact_pairs(
                pts, user_col=args.by_col, lon_col=args.lon, lat_col=args.lat,
                ts_col=args.ts_col, zoom=args.zoom,
                bucket_seconds=args.bucket_seconds,
                cell_cap=args.cell_cap,
            ).cache()
            out["contacts"] = {
                "zoom": args.zoom,
                "bucket_seconds": args.bucket_seconds,
                "pairs": df.count(),
                "top": _top_rows(df, "n_contacts", args.top),
            }
        elif cmd == "center":
            from versatiles_rs_spark.functions.center import central_features

            grp = (
                F.col(args.by_col) if args.by_col in pts.columns else F.lit(0)
            )
            milli = pts.select(
                grp.alias("grp"),
                (F.floor(F.col(args.lon) * 1000).cast("long") + 200000).alias("x"),
                (F.floor(F.col(args.lat) * 1000).cast("long") + 200000).alias("y"),
            )
            df = central_features(milli).cache()
            out["center"] = {
                "groups": df.count(),
                "top": _top_rows(df, "n", args.top),
            }
        elif cmd == "variogram":
            from versatiles_rs_spark.functions.variogram import empirical_variogram

            if args.value_col not in pts.columns:
                out["variogram"] = {"skipped": f"needs {args.value_col} column"}
                continue
            id_col = args.id_col or pts.columns[0]
            vpts = pts.select(
                F.col(id_col).alias("id"), args.lon, args.lat,
                F.floor(F.col(args.value_col) * 100).cast("long").alias("v"),
            )
            df = empirical_variogram(
                vpts, lon_col=args.lon, lat_col=args.lat,
                max_lag_deg=args.radius_deg, n_bins=args.bins,
            ).cache()
            out["variogram"] = {
                "max_lag_deg": args.radius_deg,
                "bins": [r.asDict() for r in df.orderBy("lag_bin").collect()],
            }
        elif cmd == "kmeans":
            from versatiles_rs_spark.functions.kmeans import lloyd_kmeans

            id_col = args.id_col or pts.columns[0]
            milli = pts.select(
                F.col(id_col).alias("id"),
                (F.floor(F.col(args.lon) * 1000).cast("long") + 200000).alias("x"),
                (F.floor(F.col(args.lat) * 1000).cast("long") + 200000).alias("y"),
            )
            bb = milli.agg(
                F.min("x"), F.max("x"), F.min("y"), F.max("y")
            ).first()
            kx = max(1, int(args.k ** 0.5))
            ky = (args.k + kx - 1) // kx
            sx = max(1, (bb[1] - bb[0]) // (kx + 1))
            sy = max(1, (bb[3] - bb[2]) // (ky + 1))
            seeds = spark.range(args.k).select(
                F.col("id").cast("long").alias("cid"),
                (F.lit(bb[0]) + (F.col("id") % kx + 1) * sx).alias("cx"),
                (F.lit(bb[2]) + (F.expr(f"id div {kx}") + 1) * sy).alias("cy"),
            )
            # k_pad must exceed every cid for the packed % k_pad decode
            k_pad = 1 << max(4, int(args.k - 1).bit_length())
            df = lloyd_kmeans(
                milli, seeds, rounds=args.rounds, k_pad=k_pad
            ).cache()
            n_clusters = df.count()
            out["kmeans"] = {
                "k": args.k,
                "rounds": args.rounds,
                "clusters": n_clusters,
                "top": _top_rows(df, "n_points", args.top),
            }
            if n_clusters >= 2:
                from versatiles_rs_spark.functions.kmeans import (
                    simplified_silhouette,
                )

                sil = simplified_silhouette(
                    milli, df.select("cid", "cx", "cy"), k_pad=k_pad
                ).agg(
                    F.sum("sum_silq").alias("sq"), F.sum("n_points").alias("n")
                ).first()
                out["kmeans"]["mean_silhouette"] = round(
                    (sil["sq"] / sil["n"]) / 1e9, 4
                )
        elif cmd == "mapmatch":
            from versatiles_rs_spark.joins.map_match import (
                candidate_segments, map_match)
            from pyspark.sql import Window

            if not args.segments:
                out["mapmatch"] = {"skipped": "needs --segments seg.parquet"}
                continue
            segs = spark.read.parquet(args.segments)
            w = Window.partitionBy(args.by_col).orderBy(
                args.ts_col, args.id_col or pts.columns[0]
            )
            fixes = (
                pts.withColumn("step", F.row_number().over(w))
                .filter(F.col("step") <= args.steps)
                .select(
                    F.col(args.by_col).cast("long").alias("uid"),
                    "step",
                    (F.floor(F.col(args.lon) * 1000).cast("long") + 200000)
                    .alias("px"),
                    (F.floor(F.col(args.lat) * 1000).cast("long") + 200000)
                    .alias("py"),
                )
            )
            cand = candidate_segments(
                fixes, segs, dist=args.match_dist, cell=args.match_dist, k=4
            )
            df = map_match(
                cand, n_steps=args.steps, k=4, switch_penalty=10_000_000
            ).cache()
            out["mapmatch"] = {
                "steps": args.steps,
                "matched_rows": df.count(),
                "users": df.select("user_id").distinct().count(),
            }
        elif cmd == "coloc":
            from versatiles_rs_spark.functions.colocation import colocation_pairs

            if args.type_col not in pts.columns:
                out["coloc"] = {"skipped": f"needs {args.type_col} column"}
                continue
            id_col = args.id_col or pts.columns[0]
            df = colocation_pairs(
                pts, id_col=id_col, type_col=args.type_col,
                lon_col=args.lon, lat_col=args.lat, radius_deg=args.radius_deg,
            ).cache()
            out["coloc"] = {
                "radius_deg": args.radius_deg,
                "pairs": df.count(),
                "top": _top_rows(df, "pi_milli", args.top),
            }
        elif cmd == "kde":
            from versatiles_rs_spark.functions.kde import kde_heatmap

            df = kde_heatmap(
                pts, args.lon, args.lat, zoom=args.zoom, radius=args.radius
            ).cache()
            out["kde"] = {
                "zoom": args.zoom,
                "radius": args.radius,
                "cells": df.count(),
                "top": _top_rows(df, "density", args.top),
            }
        elif cmd == "clusters":
            from versatiles_rs_spark.functions.clusters import marker_cluster_pyramid

            id_col = args.id_col or pts.columns[0]
            df = marker_cluster_pyramid(
                pts, args.lon, args.lat, id_col=id_col,
                min_zoom=max(0, args.zoom - 4), max_zoom=args.zoom,
            ).cache()
            per_zoom = {int(r["z"]): r["n"] for r in
                        df.groupBy("z").agg(F.count("*").alias("n")).collect()}
            out["clusters"] = {
                "zooms": per_zoom,
                "top": _top_rows(df.filter(F.col("z") == args.zoom), "n_points", args.top),
            }
        elif cmd == "regions":
            from versatiles_rs_spark.functions.hotspots import cell_counts
            from versatiles_rs_spark.operators.regions import (
                region_group, sieve_small_regions,
            )

            n = 1 << args.zoom
            occ = cell_counts(pts, args.lon, args.lat, args.zoom)
            universe = (
                spark.range(n).select(F.col("id").alias("gx"))
                .crossJoin(spark.range(n).select(F.col("id").alias("gy")))
            )
            cells = universe.join(
                occ.select(F.col("x").alias("gx"), F.col("y").alias("gy"), "cnt"),
                ["gx", "gy"], "left",
            ).select(
                "gx", "gy",
                F.least(F.coalesce("cnt", F.lit(0)), F.lit(3)).alias("v"),
            )
            raw = region_group(cells, n).cache()
            sieved = sieve_small_regions(cells, n, min_cells=args.min_cells)
            out["regions"] = {
                "zoom": args.zoom,
                "regions": raw.count(),
                "after_sieve": sieved.count(),
                "min_cells": args.min_cells,
                "largest": [r.asDict() for r in
                            raw.orderBy(F.col("n_cells").desc())
                            .limit(args.top).collect()],
            }
        elif cmd == "distance":
            from versatiles_rs_spark.functions.edt import euclidean_distance
            from versatiles_rs_spark.functions.hotspots import cell_counts

            n = 1 << args.zoom
            feats = cell_counts(pts, args.lon, args.lat, args.zoom).select(
                F.col("x").alias("gx"), F.col("y").alias("gy"),
                (F.col("x") * n + F.col("y")).alias("src_id"),
            )
            block = max(n // 8, 1)
            md = args.max_dist
            blocks = euclidean_distance(
                feats, n, block=block, max_dist=md
            ).cache()
            tot = blocks.agg(
                F.sum("n_reached").alias("r"), F.sum("n_unreached").alias("u"),
                F.sum("sum_d2").alias("s"), F.max("max_d2").alias("m"),
            ).collect()[0]
            out["distance"] = {
                "zoom": args.zoom, "max_dist": md,
                "cells_reached": tot["r"], "cells_unreached": tot["u"],
                "max_d2": tot["m"],
                "mean_d2_milli": int(tot["s"] * 1000 // tot["r"]) if tot["r"] else None,
            }
        elif cmd == "dbscan":
            from versatiles_rs_spark.joins.dbscan import grid_dbscan

            id_col = args.id_col or pts.columns[0]
            with guard.recording() as rec:
                df = grid_dbscan(
                    pts, id_col, args.lon, args.lat, eps=args.eps,
                    min_pts=args.min_pts,
                ).cache()
            roles = {r["role"]: r["cnt"] for r in
                     df.groupBy("role").agg(F.count("*").alias("cnt")).collect()}
            sizes = (
                df.filter("cluster >= 0").groupBy("cluster")
                .agg(F.count("*").alias("size"))
            )
            out["dbscan"] = {
                "eps": args.eps,
                "min_pts": rec["grid_dbscan"]["min_pts"],
                "core": roles.get(2, 0),
                "border": roles.get(1, 0),
                "noise": roles.get(0, 0),
                "clusters": sizes.count(),
                "largest": [r.asDict() for r in
                            sizes.orderBy(F.col("size").desc()).limit(args.top).collect()],
            }
    for k, v in out.items():
        if isinstance(v, dict) and "top" in v:
            print(f"# {k}: {len(v['top'])} top rows of {v.get('cells', '?')} cells",
                  file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
