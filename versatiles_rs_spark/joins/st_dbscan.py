"""ST-DBSCAN — space-time density clustering as a Spark plan.

ST-DBSCAN (Birant & Kut 2007) extends DBSCAN with a second radius: a
neighbor must be within eps_space spatially AND within eps_time
temporally, so a cluster is a dense episode — the same place AND the same
period (disease outbreaks, event waves, flash crowds). Everything else
follows joins/dbscan.py (Ester et al. 1996): cores have >= min_pts
neighbors (self included), density-connected cores merge, borders attach
to the min-id core cluster, noise is -1.

Distributed re-expression = the dbscan grid contraction lifted to 3D:

1. cell assignment map-side: spatial side eps_space/sqrt(2) (the
   MR-DBSCAN diagonal bound) x temporal bin side eps_time — every pair
   sharing one (cell, tbin) supernode is mutually within BOTH radii
   (spatial by the cell diagonal, temporal because |dt| < bin side);
2. probe explodes to the 5x5 spatial block x {-1,0,1} temporal bins
   (75 slim keys) and hash-joins the build side on (cell, tbin); the
   exact eps tests filter in the same stage;
3. supernodes pack to ONE non-negative long — cx, cy carry the dbscan
   +-2^20 offset, the time bin is anchored at 2000-01-01 UTC (fixed
   epoch, NOT the data min — a data-dependent anchor would make cluster
   ids depend on which partition of a 100 TB table you read first):
   ((cx << 21) + cy) << 21 | tb, 63 bits, capacity-guarded on all three;
4. connected components on DISTINCT supernode adjacency pairs, cluster
   id = min core point id, border = min neighbor cluster — exactly the
   dbscan.py semantics, SQL-replayable.

100 TB shape: identical to grid_dbscan — every Exchange carries longs +
two doubles, pair volume is Sigma|N_eps| (linear at fixed space-time
density), hot supernodes are AQE skew-join targets, CC runs on the
contracted supernode graph.

Role encoding: 2 = core, 1 = border, 0 = noise.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import guard
from .dbscan import _CELL_OFF, _cell_cols

#: fixed time-bin anchor: 2000-01-01T00:00:00Z in epoch microseconds
T_ANCHOR_US = 946_684_800 * 1_000_000
_TB_CAP = 1 << 21


def _us_expr(df: DataFrame, ts_col: str):
    """Epoch-micros column for timestamp / timestamp_ntz / numeric ts —
    the repo's cross-engine convention (functions/sessions.py)."""
    dtype = dict(df.dtypes)[ts_col]
    if dtype in ("timestamp", "timestamp_ntz"):
        kind = "TIMESTAMP_NTZ" if dtype == "timestamp_ntz" else "TIMESTAMP"
        return F.expr(
            f"timestampdiff(MICROSECOND, {kind} '1970-01-01 00:00:00', {ts_col})"
        )
    return F.col(ts_col).cast("long")


def st_neighbor_pairs(
    points: DataFrame,
    id_col: str,
    lon_col: str,
    lat_col: str,
    ts_col: str,
    eps_space: float,
    eps_time_s: int,
) -> DataFrame:
    """All ordered pairs (ia, ib) within BOTH radii, self pair included;
    carries the packed (cell, tbin) supernode of each endpoint (sa, sb)."""
    side = eps_space / math.sqrt(2.0)
    if 180.0 / side + 2 >= _CELL_OFF:
        raise ValueError(
            f"eps_space={eps_space} packs grid cells past the +-2^20 offset"
        )
    eps_us = int(eps_time_s) * 1_000_000
    slim = points.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(lon_col).cast("double").alias("lon"),
        F.col(lat_col).cast("double").alias("lat"),
        (_us_expr(points, ts_col) - F.lit(T_ANCHOR_US)).alias("us"),
    )
    cx, cy = _cell_cols(F.col("lon"), F.col("lat"), side)
    tb = F.expr(f"us div {eps_us}")  # us >= 0 for any ts after 2000-01-01

    def _pack3(cxe, cye, tbe):
        return (cxe * F.lit(1 << 21) + cye) * F.lit(1 << 21) + tbe

    # explode a 75-element INDEX and derive the neighbor key from it with
    # one arithmetic expression — a 75-entry array of _pack3 expressions
    # made the generated code ~75x larger and added ~2 s of whole-stage
    # codegen compile to EVERY action over the pair relation (measured)
    probe = slim.select(
        F.col("id").alias("ia"),
        F.col("lon").alias("alon"),
        F.col("lat").alias("alat"),
        F.col("us").alias("aus"),
        _pack3(cx, cy, tb).alias("sa"),
        F.explode(F.sequence(F.lit(0), F.lit(74))).alias("ni"),
    ).select(
        "ia", "alon", "alat", "aus", "sa",
        (
            F.col("sa")
            + (F.col("ni") % 5 - 2) * F.lit((1 << 21) * (1 << 21))
            + (F.expr("ni div 5") % 5 - 2) * F.lit(1 << 21)
            + (F.expr("ni div 25") - 1)
        ).alias("snode"),
    )
    build = slim.select(
        F.col("id").alias("ib"),
        F.col("lon").alias("blon"),
        F.col("lat").alias("blat"),
        F.col("us").alias("bus"),
        _pack3(cx, cy, tb).alias("snode"),
    )
    dx_ = F.col("alon") - F.col("blon")
    dy_ = F.col("alat") - F.col("blat")
    # shuffle_hash on the UN-exploded side: Catalyst's size estimate does
    # not account for the 75x Generate, so left alone it BROADCASTS the
    # exploded probe (measured at sf0.01; catastrophic at scale).  The
    # intended plan is a hash join partitioned on snode with the hash
    # table built from the slim build side — correct at any size, no sort.
    return (
        probe.join(build.hint("shuffle_hash"), on="snode")
        .filter(
            (dx_ * dx_ + dy_ * dy_ <= F.lit(eps_space) * F.lit(eps_space))
            & (F.abs(F.col("aus") - F.col("bus")) <= F.lit(eps_us))
        )
        # aus rides along (anchored micros) so the caller's packing guard
        # can share the SAME driver action as the min_pts statistics —
        # every point self-pairs, so min/max over pairs.aus covers all rows
        .select("ia", "ib", "sa", F.col("snode").alias("sb"), "aus")
    )


def st_dbscan(
    points: DataFrame,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    ts_col: str = "ts",
    eps_space: float = 2.0,
    eps_time_s: int = 3600,
    min_pts: int | None = None,
) -> DataFrame:
    """(id, cluster, role) per input point — grid_dbscan's contract with
    the space-time neighborhood. min_pts=None self-tunes to
    floor(mean |N_st|) + 1 with the exact sum/count arithmetic of
    grid_dbscan (see its docstring for why not F.avg), noted as `min_pts`. Time bins must fit
    the packing: ts in [2000-01-01, 2000-01-01 + 2^21 * eps_time_s) —
    capacity-guarded with a real scan-time check (max us), not a comment."""
    from ..functions.graph import connected_components

    pairs = st_neighbor_pairs(
        points, id_col, lon_col, lat_col, ts_col, eps_space, eps_time_s
    ).cache()

    # ONE driver action materializes pairs AND answers both the time-axis
    # packing guard and the min_pts statistics (every point self-pairs, so
    # min/max over pairs.aus == bounds over the input; countDistinct(ia)
    # == the point count) — previously two separate jobs, pure per-job
    # overhead at gate scale (iterative-relational-overhead lesson)
    eps_us = int(eps_time_s) * 1_000_000
    stats = pairs.agg(
        F.count("*").alias("tot"),
        F.countDistinct("ia").alias("cnt"),
        F.min("aus").alias("lo"),
        F.max("aus").alias("hi"),
    ).collect()[0]
    if stats.lo is not None:
        if stats.lo < 0:
            raise ValueError("st_dbscan: timestamps before 2000-01-01 break tb packing")
        if stats.hi // eps_us >= _TB_CAP - 1:
            raise ValueError(
                f"st_dbscan: eps_time_s={eps_time_s} yields time bins past "
                f"2^21; raise eps_time_s or re-anchor T_ANCHOR_US"
            )

    counts = pairs.groupBy("ia").agg(F.count("*").alias("n"))
    if min_pts is None:
        tot, cnt = stats.tot, stats.cnt
        min_pts = int(math.floor(float(tot or 0) / cnt)) + 1 if cnt else 1
    guard.note("st_dbscan", min_pts=min_pts)
    cores = counts.filter(F.col("n") >= min_pts).select(F.col("ia").alias("id"))

    core_pairs = (
        pairs.join(cores.withColumnRenamed("id", "ia"), on="ia")
        .join(cores.withColumnRenamed("id", "ib"), on="ib")
        .select("ia", "ib", "sa", "sb")
        .cache()
    )
    snode_edges = (
        core_pairs.filter(F.col("sa") < F.col("sb")).select("sa", "sb").distinct()
    )
    comp = connected_components(snode_edges, src="sa", dst="sb")
    snode_min = core_pairs.groupBy(F.col("sa").alias("snode")).agg(
        F.min("ia").alias("mc")
    )
    snode_lab = snode_min.join(
        comp.withColumnRenamed("id", "snode"), on="snode", how="left"
    ).withColumn("comp", F.coalesce("component", "snode"))
    comp_lab = snode_lab.groupBy("comp").agg(F.min("mc").alias("cluster"))
    snode_cluster = snode_lab.select("snode", "comp").join(comp_lab, on="comp").select(
        "snode", "cluster"
    )
    core_clusters = (
        core_pairs.select(F.col("ia").alias("id"), F.col("sa").alias("snode"))
        .distinct()
        .join(snode_cluster, on="snode")
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
    return all_ids.join(labeled, on="id", how="left").select(
        "id",
        F.coalesce("cluster", F.lit(-1).cast("long")).alias("cluster"),
        F.coalesce("role", F.lit(0)).cast("int").alias("role"),
    )
