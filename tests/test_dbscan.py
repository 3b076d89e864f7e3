"""Grid-cell DBSCAN (joins/dbscan.py): brute-force parity on planted
clusters, role/cluster invariants, adaptive min_pts, plan gates."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from versatiles_rs_spark import guard
from versatiles_rs_spark.joins.dbscan import eps_neighbor_pairs, grid_dbscan


def _brute_dbscan(pts: dict[int, tuple[float, float]], eps: float, min_pts: int):
    """Reference DBSCAN with the engine's deterministic tie-breaks:
    cluster = min core id of the component, border takes min neighbor
    cluster. Returns {id: (cluster, role)}."""
    ids = sorted(pts)
    nbr = {
        i: [
            j
            for j in ids
            if (pts[i][0] - pts[j][0]) ** 2 + (pts[i][1] - pts[j][1]) ** 2 <= eps * eps
        ]
        for i in ids
    }
    cores = {i for i in ids if len(nbr[i]) >= min_pts}
    # union-find over core-core eps edges
    parent = {i: i for i in cores}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in cores:
        for j in nbr[i]:
            if j in cores and j != i:
                a, b = find(i), find(j)
                if a != b:
                    parent[a] = b
    comp_min: dict[int, int] = {}
    for i in cores:
        r = find(i)
        comp_min[r] = min(comp_min.get(r, i), i)
    out = {}
    for i in ids:
        if i in cores:
            out[i] = (comp_min[find(i)], 2)
        else:
            cands = [comp_min[find(j)] for j in nbr[i] if j in cores and j != i]
            out[i] = (min(cands), 1) if cands else (-1, 0)
    return out


# two dense blobs bridged by a border point, one isolated pair (noise), one
# lone point; coordinates chosen so eps=1.5 separates the structures
PLANTED = {
    0: (0.0, 0.0),
    1: (0.5, 0.0),
    2: (0.0, 0.5),
    3: (0.5, 0.5),
    4: (1.2, 0.2),  # border of blob A (within eps of cores, low own count)
    10: (10.0, 10.0),
    11: (10.5, 10.0),
    12: (10.0, 10.5),
    13: (10.5, 10.5),
    20: (20.0, -20.0),
    21: (20.4, -20.0),  # pair: 2 neighbors each incl self, below min_pts
    30: (-40.0, 40.0),  # lone noise
}


@pytest.mark.parametrize("eps,min_pts", [(1.5, 4), (1.5, 3)])
def test_planted_parity(spark, eps, min_pts):
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in PLANTED.items()], "id long, lon double, lat double"
    )
    got = {
        r["id"]: (r["cluster"], r["role"])
        for r in grid_dbscan(df, eps=eps, min_pts=min_pts).collect()
    }
    assert got == _brute_dbscan(PLANTED, eps, min_pts)


def test_negative_coords_and_cell_edges(spark):
    # points straddling cell boundaries at negative coords: floor (not
    # trunc) grid math must still find cross-cell neighbors
    pts = {0: (-0.1, -0.1), 1: (0.1, 0.1), 2: (-0.1, 0.1), 3: (0.1, -0.1)}
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in pts.items()], "id long, lon double, lat double"
    )
    pairs = eps_neighbor_pairs(df, eps=1.0)
    assert pairs.count() == 16  # all 4x4 pairs incl self within eps
    got = {
        r["id"]: (r["cluster"], r["role"])
        for r in grid_dbscan(df, eps=1.0, min_pts=4).collect()
    }
    assert got == _brute_dbscan(pts, 1.0, 4)


def test_random_field_parity_adaptive(spark):
    # deterministic pseudo-random field; adaptive min_pts must match the
    # brute reference with the same floor(avg)+1 threshold
    rng = np.random.RandomState(7)
    xs = rng.uniform(-30, 30, 150).round(3)
    ys = rng.uniform(-30, 30, 150).round(3)
    pts = {i: (float(xs[i]), float(ys[i])) for i in range(150)}
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in pts.items()], "id long, lon double, lat double"
    )
    eps = 4.0
    with guard.recording() as rec:
        got = {
            r["id"]: (r["cluster"], r["role"])
            for r in grid_dbscan(df, eps=eps, min_pts=None).collect()
        }
    counts = [
        sum(
            1
            for j in pts
            if (pts[i][0] - pts[j][0]) ** 2 + (pts[i][1] - pts[j][1]) ** 2 <= eps * eps
        )
        for i in pts
    ]
    mp = int(np.floor(np.mean(counts))) + 1
    assert rec["grid_dbscan"]["min_pts"] == mp
    assert got == _brute_dbscan(pts, eps, mp)
    # the field genuinely exercises all three roles
    roles = {v[1] for v in got.values()}
    assert roles == {0, 1, 2}


def test_every_point_labeled_once(spark, sf_dir):
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .limit(300)
        .select(
            F.col("event_id").alias("id"),
            (F.pmod(F.col("event_id") * 7919, F.lit(360)) - 180).cast("double").alias("lon"),
            (F.pmod(F.col("event_id") * 104729, F.lit(170)) - 85).cast("double").alias("lat"),
        )
    )
    out = grid_dbscan(ev, eps=8.0, min_pts=None).cache()
    assert out.count() == 300
    assert out.select("id").distinct().count() == 300
    # cluster ids are core ids; noise is exactly role 0
    assert out.filter((F.col("cluster") == -1) != (F.col("role") == 0)).count() == 0
    # every named cluster is labeled by its minimum CORE id (borders may
    # carry smaller ids — the label comes from the core set only)
    bad = (
        out.filter("role = 2")
        .groupBy("cluster")
        .agg(F.min("id").alias("mn"))
        .filter(F.col("mn") != F.col("cluster"))
        .count()
    )
    assert bad == 0


def test_plan_gates(spark):
    df = spark.createDataFrame(
        [(i, float(i), float(-i)) for i in range(50)], "id long, lon double, lat double"
    )
    plan = (
        eps_neighbor_pairs(df, eps=2.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # pure JVM pair generation, grid hash join — no Python, no cartesian
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_small_eps_packing_guard(spark):
    # eps below the +-2^20 cell-offset capacity must raise, not silently
    # fuse far-apart cells through packed-key collisions
    df = spark.createDataFrame([(1, 0.0, 0.0)], "id long, lon double, lat double")
    with pytest.raises(ValueError, match="2\\^20"):
        eps_neighbor_pairs(df, eps=1e-4).count()
    # the documented smallest supported eps still works
    assert eps_neighbor_pairs(df, eps=3e-4).count() == 1
