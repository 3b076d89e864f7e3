"""Grid-cell DBSCAN — density-based spatial clustering as a Spark plan.

DBSCAN (Ester et al. 1996, KDD) over point layers: a point with >= min_pts
neighbors within eps (itself included) is a CORE point; core points within
eps of each other merge into one cluster; a non-core point within eps of a
core is a BORDER point of that cluster; everything else is NOISE. The
classic sequential algorithm is region-query driven; the distributed
re-expression here is the grid construction with the eps/sqrt(2) cell
side (the MR-DBSCAN-family contraction): every pair of points in ONE cell
is within eps by the cell diagonal, so

1. cell assignment map-side: (floor(lon/s), floor(lat/s)) with
   s = eps/sqrt(2), packed into one non-negative long — pure JVM;
2. neighbor candidates: the probe side explodes to the 5x5 cell block
   (all cells whose minimum distance can reach eps) and hash-joins the
   build side on the packed cell key — exchanges keyed on a long, never a
   cartesian; the exact eps test filters in the same stage;
3. per-point neighbor counts -> core flags (slim groupBy on id);
4. CLUSTER MERGE ON SUPERNODES: same-cell cores are mutually eps-close,
   hence always one cluster — each cell contracts to one supernode, and
   connected components (functions/graph.py large/small-star) run on the
   DISTINCT cross-cell core-core adjacency pairs. This is the scale move:
   a dense region contributes O(occupied cells) CC nodes and edges
   instead of O(points^2/2) pairwise core edges — without it, a dense
   core graph funnels into one hub task during star contraction
   (measured: 100k points at avg |N_eps|~300 never finished; contracted,
   the same input runs the whole query in well under a minute);
5. cluster id = min core point id of the component (deterministic),
   recovered by aggregating per-cell min core ids over components;
6. border points take the MINIMUM cluster id among their core neighbors —
   sequential DBSCAN leaves border assignment order-dependent; min is the
   deterministic tie-break (documented engine semantics, SQL-replayable);
7. noise rows are kept with cluster = -1 (no silent drops: the output has
   exactly one row per input point).

100 TB shape: every shuffle carries (long id, two doubles) or (long,
long) edges — never a payload; total pair volume is Sigma|N_eps| (linear
in points for a fixed physical density — eps is the knob that sets it);
hot cells (urban-density skew) are ordinary AQE skew-join targets because
the join key is the cell; CC runs on the contracted cell graph. The eps
grid is the same spatial-partitioning trick as joins/pip.py's cell join.

Role encoding: 2 = core, 1 = border, 0 = noise.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import guard

_CELL_OFF = 1 << 20  # grid offsets: |floor(coord/s)| < 2^20 for any sane eps


def _cell_cols(lon, lat, side: float):
    cx = F.floor(lon / F.lit(side)).cast("long") + F.lit(_CELL_OFF)
    cy = F.floor(lat / F.lit(side)).cast("long") + F.lit(_CELL_OFF)
    return cx, cy


def _pack(cx, cy):
    return cx * F.lit(1 << 21) + cy


def eps_neighbor_pairs(
    points: DataFrame,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    eps: float = 2.0,
) -> DataFrame:
    """All ordered pairs (ia, ib) with dist <= eps — including ia == ib
    (the self pair), so a per-ia count is the DBSCAN |N_eps| that counts
    the point itself. Carries the eps/sqrt(2)-grid cell of each endpoint
    (ca, cb) for the supernode contraction. Grid-pruned: the 5x5 cell
    block bounds the eps ball of a probe point."""
    side = eps / math.sqrt(2.0)
    # packing capacity guard: cell indexes must fit the +-2^20 offset or
    # cx*2^21+cy silently collides distant cells into one supernode and
    # the contraction would FUSE unrelated clusters (the pairwise distance
    # filter stays exact, so the bug would be silent wrong clustering).
    # 180/side is the largest |floor(coord/side)| for lon/lat input;
    # side > ~1.72e-4 deg (~19 m cells) keeps it under 2^20 - 2.
    if 180.0 / side + 2 >= _CELL_OFF:
        raise ValueError(
            f"eps={eps} packs grid cells past the +-2^20 offset "
            f"(cell side {side:.2e} deg); smallest supported eps is "
            f"~{180.0 * math.sqrt(2.0) / (_CELL_OFF - 2):.1e} deg"
        )
    slim = points.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(lon_col).cast("double").alias("lon"),
        F.col(lat_col).cast("double").alias("lat"),
    )
    cx, cy = _cell_cols(F.col("lon"), F.col("lat"), side)
    # explode a 25-element INDEX and derive the neighbor cell key with one
    # arithmetic expression — a 25-entry array of _pack expressions bloats
    # whole-stage codegen and recompiles on every action (see st_dbscan.py)
    probe = slim.select(
        F.col("id").alias("ia"),
        F.col("lon").alias("alon"),
        F.col("lat").alias("alat"),
        _pack(cx, cy).alias("ca"),
        F.explode(F.sequence(F.lit(0), F.lit(24))).alias("ni"),
    ).select(
        "ia", "alon", "alat", "ca",
        (
            F.col("ca")
            + (F.col("ni") % 5 - 2) * F.lit(1 << 21)
            + (F.expr("ni div 5") - 2)
        ).alias("cell"),
    )
    build = slim.select(
        F.col("id").alias("ib"),
        F.col("lon").alias("blon"),
        F.col("lat").alias("blat"),
        _pack(cx, cy).alias("cell"),
    )
    dx = F.col("alon") - F.col("blon")
    dy = F.col("alat") - F.col("blat")
    # shuffle_hash on the un-exploded side: Catalyst misestimates the 25x
    # Generate output and would broadcast the EXPLODED probe (see
    # st_dbscan.py) — hash-partition on cell, hash table from the slim side
    return (
        probe.join(build.hint("shuffle_hash"), on="cell")
        .filter(dx * dx + dy * dy <= F.lit(eps) * F.lit(eps))
        .select("ia", "ib", "ca", F.col("cell").alias("cb"))
    )


def grid_dbscan(
    points: DataFrame,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    eps: float = 2.0,
    min_pts: int | None = None,
) -> DataFrame:
    """(id, cluster, role) for every input point. cluster = min core id of
    the density-connected component (-1 for noise); role 2/1/0 =
    core/border/noise. Notes the resolved `min_pts`; the cell-graph CC
    notes its own path and rounds under "connected_components".

    min_pts=None self-tunes to floor(mean |N_eps|) + 1 — the k-dist-knee
    heuristic collapsed to its cheapest deterministic form: cores are the
    above-average-density points, so the threshold tracks the dataset's
    density instead of needing re-tuning per scale. Costs one scalar agg
    job over the already-cached slim counts relation; the mean is computed
    as sum(long)/count (exact int64 sum, then ONE IEEE division — not
    F.avg, whose double accumulator drifts past 2^53 total), and the SQL
    oracle replays the identical sum/count/floor arithmetic, so both
    engines resolve the same threshold at any scale."""
    from ..functions.graph import connected_components

    pairs = eps_neighbor_pairs(points, id_col, lon_col, lat_col, eps).cache()
    counts = pairs.groupBy("ia").agg(F.count("*").alias("n"))
    if min_pts is None:
        counts = counts.cache()
        # sum/count on longs, NOT F.avg: avg over LongType accumulates in
        # double (exact only while the running sum stays < 2^53), whereas
        # sum(long) is an exact int64 sum followed by ONE IEEE division —
        # matching the oracle's arithmetic at any scale.
        tot, cnt = counts.agg(F.sum("n"), F.count("*")).collect()[0]
        # float(tot) then divide = the oracle's CAST(sum AS DOUBLE)/count
        min_pts = int(math.floor(float(tot or 0) / cnt)) + 1 if cnt else 1
    guard.note("grid_dbscan", min_pts=min_pts)
    cores = counts.filter(F.col("n") >= min_pts).select(F.col("ia").alias("id"))

    # supernode contraction: CC over DISTINCT cross-cell core-core cell
    # pairs (same-cell cores are eps-close by the cell diagonal)
    core_pairs = (
        pairs.join(cores.withColumnRenamed("id", "ia"), on="ia")
        .join(cores.withColumnRenamed("id", "ib"), on="ib")
        .select("ia", "ib", "ca", "cb")
        .cache()
    )
    cell_edges = (
        core_pairs.filter(F.col("ca") < F.col("cb")).select("ca", "cb").distinct()
    )
    comp = connected_components(cell_edges, src="ca", dst="cb")
    # per-cell min core id; component label = min over its cells; isolated
    # core cells (no cross-cell core link) label themselves
    cell_min = core_pairs.groupBy(F.col("ca").alias("cell")).agg(
        F.min("ia").alias("mc")
    )
    cell_lab = (
        cell_min.join(
            comp.withColumnRenamed("id", "cell"), on="cell", how="left"
        )
        .withColumn("comp", F.coalesce("component", "cell"))
    )
    comp_lab = cell_lab.groupBy("comp").agg(F.min("mc").alias("cluster"))
    cell_cluster = cell_lab.select("cell", "comp").join(comp_lab, on="comp").select(
        "cell", "cluster"
    )
    core_clusters = (
        core_pairs.select(F.col("ia").alias("id"), F.col("ca").alias("cell"))
        .distinct()
        .join(cell_cluster, on="cell")
        .select("id", "cluster")
    )

    border = (
        pairs.filter(F.col("ia") != F.col("ib"))
        .join(core_clusters.withColumnRenamed("id", "ib"), on="ib")
        .join(cores.withColumnRenamed("id", "ia"), on="ia", how="left_anti")
        .groupBy("ia")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("ia").alias("id"), "cluster")
    )

    all_ids = points.select(F.col(id_col).cast("long").alias("id"))
    labeled = core_clusters.withColumn("role", F.lit(2)).unionByName(
        border.withColumn("role", F.lit(1))
    )
    return (
        all_ids.join(labeled, on="id", how="left")
        .select(
            "id",
            F.coalesce("cluster", F.lit(-1).cast("long")).alias("cluster"),
            F.coalesce("role", F.lit(0)).cast("int").alias("role"),
        )
    )
