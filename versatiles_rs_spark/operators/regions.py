"""Region Group: connected-component labeling of equal-value raster zones.

The ArcGIS Region Group / GRASS r.clump primitive (and the prerequisite
of GDAL's sieve filter): every maximal 4-connected set of cells sharing
one value becomes a region, labeled deterministically by its smallest
packed cell id, with per-region size + bounding box.

Distributed shape — run-length contraction, entirely JVM-side:

  1. segments: per grid ROW, maximal runs of equal value collapse to one
     (seg_id, gy, x0, x1, v, len) row via two window functions (the
     islands-and-gaps trick) — the standard raster-CC contraction; a
     region's cell count never shuffles as cells, only as run lengths.
  2. adjacency: segment pairs in ADJACENT rows with equal value and
     overlapping x-intervals, an equi-join on (gy+1, v) with the overlap
     as a residual predicate — no point-level pairs, no cartesian.
  3. connected components over the slim (long, long) segment graph
     (functions/graph.py large/small-star, O(log n) rounds).
  4. per-region rollup of run lengths + bboxes.

Everything that shuffles is longs; the per-row window groups are bounded
by raster width (one row of runs per task — same group shape as the EDT
row pass).  The DuckDB oracle replays segments with the identical window
arithmetic and walks the SEGMENT graph (never cells) with a recursive
min-label CTE, per the oracle-walk-contraction lesson.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.graph import connected_components


def region_segments(cells: DataFrame, n: int, value_col: str = "v") -> DataFrame:
    """Collapse a (gx, gy, v) cell relation into per-row maximal runs:
    (seg_id, gy, x0, x1, v, len) with seg_id = packed id gy*n + x0 of the
    run's first cell (unique and deterministic)."""
    w = Window.partitionBy("gy").orderBy("gx")
    runs = (
        cells.select(
            F.col("gx").cast("long"), F.col("gy").cast("long"),
            F.col(value_col).cast("long").alias("v"),
        )
        .withColumn(
            "brk",
            F.when(
                (F.lag("v").over(w).isNull())
                | (F.lag("v").over(w) != F.col("v"))
                | (F.lag("gx").over(w) != F.col("gx") - 1),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("seg", F.sum("brk").over(w))
    )
    return runs.groupBy("gy", "seg").agg(
        (F.min("gy") * n + F.min("gx")).alias("seg_id"),
        F.min("gx").alias("x0"),
        F.max("gx").alias("x1"),
        F.min("v").alias("v"),
        F.count("*").alias("len"),
    ).select("seg_id", "gy", "x0", "x1", "v", "len")


def region_group(
    cells: DataFrame,
    n: int,
    value_col: str = "v",
    return_segments: bool = False,
) -> DataFrame:
    """Label 4-connected equal-value regions of a (gx, gy, v) cell
    relation on an n-wide grid.  Output: one row per region —
    (region, v, n_cells, min_gx, min_gy, max_gx, max_gy) with region =
    the smallest packed cell id (gy*n + gx) in the region.

    The segment-adjacency graph (~runs, a tiny fraction of cells) goes to
    connected_components, which solves it by driver union-find while it
    fits that guard — one job, and the small local result joins back as
    a broadcast — and by large/small-star rounds past it (identical
    min-id labels)."""
    segs = region_segments(cells, n, value_col).localCheckpoint()
    a, b = segs.alias("a"), segs.alias("b")
    edges = a.join(
        b,
        (F.col("b.gy") == F.col("a.gy") + 1)
        & (F.col("b.v") == F.col("a.v"))
        & (F.col("b.x0") <= F.col("a.x1"))
        & (F.col("a.x0") <= F.col("b.x1")),
    ).select(F.col("a.seg_id").alias("id_a"), F.col("b.seg_id").alias("id_b"))
    cc = connected_components(edges, "id_a", "id_b")
    labeled = segs.join(cc, segs["seg_id"] == cc["id"], "left").select(
        segs["*"], F.coalesce(cc["component"], segs["seg_id"]).alias("region")
    )
    if return_segments:
        return labeled
    return labeled.groupBy("region").agg(
        F.min("v").alias("v"),
        F.sum("len").alias("n_cells"),
        F.min("x0").alias("min_gx"),
        F.min("gy").alias("min_gy"),
        F.max("x1").alias("max_gx"),
        F.max("gy").alias("max_gy"),
    )


def sieve_small_regions(
    cells: DataFrame,
    n: int,
    min_cells: int,
    value_col: str = "v",
) -> DataFrame:
    """gdal_sieve / GRASS r.reclass.area: remove regions smaller than
    `min_cells` by merging each into its LARGEST neighboring SURVIVING
    region (size >= min_cells; ties -> smallest region label), in ONE
    SIMULTANEOUS pass — absorbed cells always land on labels that
    survive, so the output is well-formed; a small region surrounded
    only by small regions keeps its label (run another pass to cascade).
    GDAL's sequential size-order merge is order-dependent; the
    simultaneous pass is the deterministic, SQL-replayable variant and
    is documented as this engine's semantics.

    Output: post-sieve region stats (region, v, n_cells) where v is the
    absorbing region's zone value.  Region adjacency comes from the
    SEGMENT relation (rook: vertical interval overlaps + horizontal run
    boundaries), so the edge list is O(runs), never O(cells)."""
    labeled = region_group(
        cells, n, value_col, return_segments=True
    ).localCheckpoint()
    sizes = labeled.groupBy("region").agg(
        F.min("v").alias("v"), F.sum("len").alias("n_cells")
    ).localCheckpoint()

    a, b = labeled.alias("a"), labeled.alias("b")
    vert = a.join(
        b,
        (F.col("b.gy") == F.col("a.gy") + 1)
        & (F.col("b.x0") <= F.col("a.x1"))
        & (F.col("a.x0") <= F.col("b.x1"))
        & (F.col("a.region") != F.col("b.region")),
    ).select(F.col("a.region").alias("ra"), F.col("b.region").alias("rb"))
    horiz = a.join(
        b,
        (F.col("b.gy") == F.col("a.gy"))
        & (F.col("b.x0") == F.col("a.x1") + 1)
        & (F.col("a.region") != F.col("b.region")),
    ).select(F.col("a.region").alias("ra"), F.col("b.region").alias("rb"))
    edges = (
        vert.unionByName(horiz)
        .unionByName(vert.select(F.col("rb").alias("ra"), F.col("ra").alias("rb")))
        .unionByName(horiz.select(F.col("rb").alias("ra"), F.col("ra").alias("rb")))
        .distinct()
    )

    small = sizes.filter(F.col("n_cells") < min_cells).select(
        F.col("region").alias("ra")
    )
    nbr = (
        edges.join(small, "ra")
        .join(
            sizes.filter(F.col("n_cells") >= min_cells).select(
                F.col("region").alias("rb"), F.col("n_cells").alias("nbr_cells")
            ),
            "rb",
        )
    )
    w = Window.partitionBy("ra").orderBy(F.desc("nbr_cells"), F.asc("rb"))
    target = (
        nbr.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col("ra").alias("region"), F.col("rb").alias("new_region"))
    )
    moved = sizes.join(target, "region", "left").select(
        F.coalesce("new_region", "region").alias("final"), "n_cells"
    )
    final_sizes = moved.groupBy("final").agg(F.sum("n_cells").alias("n_cells"))
    keep_v = sizes.select("region", "v")
    return (
        final_sizes.join(keep_v, final_sizes["final"] == keep_v["region"])
        .select(F.col("final").alias("region"), "v", "n_cells")
    )
