"""Cost distance (operators/costdist.py).

Ground truth is a per-cell scalar heapq Dijkstra over the whole mosaic
as one grid — an independent implementation (no vectorized buckets, no
super-tiles).  The distributed round solve must match it bit for bit
across super-tile splits, blocked walls, unreachable pockets and
multi-super-tile sources."""
import contextlib
import heapq

import numpy as np
import pytest

from versatiles_rs_spark import guard
from versatiles_rs_spark.codecs import encode_png
from versatiles_rs_spark.operators.costdist import _INF, cost_distance, dijkstra_grid

from test_hydro_fuzz import dem_to_tiles


def global_dijkstra(cost: np.ndarray, sources) -> np.ndarray:
    """Scalar reference: -1 = blocked cell or unreachable."""
    H, W = cost.shape
    dist = {}
    pq = []
    for x, y in sources:
        assert cost[y, x] >= 0, "source on a blocked cell"
        dist[(y, x)] = 0
        heapq.heappush(pq, (0, y, x))
    while pq:
        d, r, c = heapq.heappop(pq)
        if d > dist.get((r, c), 1 << 62):
            continue
        for dr in (-1, 0, 1):
            for dc in (-1, 0, 1):
                if dr == 0 and dc == 0:
                    continue
                rr, cc = r + dr, c + dc
                if not (0 <= rr < H and 0 <= cc < W) or cost[rr, cc] < 0:
                    continue
                nd = d + (int(cost[r, c]) + int(cost[rr, cc])) * (
                    7 if dr and dc else 5
                )
                if nd < dist.get((rr, cc), 1 << 62):
                    dist[(rr, cc)] = nd
                    heapq.heappush(pq, (nd, rr, cc))
    out = np.full((H, W), -1, dtype=np.int64)
    for (r, c), d in dist.items():
        out[r, c] = d
    return out


def to_cost(v: np.ndarray, blocked_mask=None) -> np.ndarray:
    c = v.astype(np.int64)
    if blocked_mask is not None:
        c = np.where(blocked_mask, np.int64(-1), c)
    return c


def test_kernel_matches_scalar_random():
    rng = np.random.default_rng(3)
    for trial in range(5):
        n = 48
        v = rng.integers(0, 6, size=(n, n)).astype(np.int64)
        mask = rng.random((n, n)) < 0.15
        cost = to_cost(v, mask)
        srcs = []
        while len(srcs) < 3:
            x, y = map(int, rng.integers(0, n, 2))
            if cost[y, x] >= 0:
                srcs.append((x, y))
        want = global_dijkstra(cost, srcs)
        dist = np.full((n, n), _INF, dtype=np.int64)
        sr = np.array([y for _, y in srcs])
        sc = np.array([x for x, _ in srcs])
        dist[sr, sc] = 0
        dijkstra_grid(cost, dist, sr, sc)
        got = np.where((cost < 0) | (dist >= _INF), np.int64(-1), dist)
        np.testing.assert_array_equal(got, want)


@pytest.mark.parametrize("seed,s", [(41, 1), (42, 2), (43, 4)])
def test_fuzz_distributed_matches_global(spark, seed, s):
    """Random cost rasters with blocked speckle across 1x1 / 2x2 / 4x4
    super-tile splits: the round solve == the scalar global Dijkstra,
    including -1 for unreachable pockets."""
    n, ts = 64, 16
    rng = np.random.default_rng(seed)
    v = rng.integers(1, 5, size=(n, n)).astype(np.int64)
    wall = rng.random((n, n)) < 0.2
    raster = np.where(wall, np.int64(255), v).astype(np.uint8)
    cost = to_cost(v, wall)
    srcs = []
    while len(srcs) < 2:
        x, y = map(int, rng.integers(0, n, 2))
        if cost[y, x] >= 0:
            srcs.append((x, y))
    want = global_dijkstra(cost, srcs)
    with guard.recording() as rec:
        pdf = cost_distance(
            dem_to_tiles(spark, raster.astype(np.int64), ts),
            srcs, tile_size=ts, super_tiles=s, blocked=255,
        ).toPandas()
    assert len(pdf) == int((cost >= 0).sum())  # blocked cells excluded
    got = np.full((n, n), -1, dtype=np.int64)
    got[pdf["gy"].to_numpy(), pdf["gx"].to_numpy()] = pdf["dist"].to_numpy()
    np.testing.assert_array_equal(got, want)
    assert rec["cost_distance"]["rounds"] >= 1


def test_cross_supertile_wall_routing(spark):
    """A wall with one gap ON a super-tile border: the wavefront must
    cross borders through the gap and the round count stays at the
    crossing bound."""
    n, ts = 64, 16
    v = np.full((n, n), 2, dtype=np.int64)
    gap = 40
    raster = v.copy()
    raster[np.arange(n) != gap, 32] = 255
    cost = to_cost(v, (np.arange(n)[:, None] != gap) & (np.arange(n)[None, :] == 32))
    srcs = [(5, 5)]
    want = global_dijkstra(cost, srcs)
    pdf = cost_distance(
        dem_to_tiles(spark, raster, ts), srcs,
        tile_size=ts, super_tiles=2, blocked=255,
    ).toPandas()
    got = np.full((n, n), -1, dtype=np.int64)
    got[pdf["gy"].to_numpy(), pdf["gx"].to_numpy()] = pdf["dist"].to_numpy()
    np.testing.assert_array_equal(got, want)
    # octile truth through the gap for the far corner
    g = (32, gap)
    def oct_(a, b):
        M, mm = max(abs(a[0] - b[0]), abs(a[1] - b[1])), min(
            abs(a[0] - b[0]), abs(a[1] - b[1])
        )
        return 4 * (20 * (M - mm) + 28 * mm) // 4
    assert got[63, 63] == oct_((5, 5), g) + oct_(g, (63, 63))


def test_unreachable_pocket_stays_minus_one(spark):
    n, ts = 32, 16
    v = np.full((n, n), 1, dtype=np.int64)
    raster = v.copy()
    # sealed room: ring of blocked cells
    raster[10:21, 10] = raster[10:21, 20] = 255
    raster[10, 10:21] = raster[20, 10:21] = 255
    pdf = cost_distance(
        dem_to_tiles(spark, raster, ts), [(2, 2)],
        tile_size=ts, super_tiles=1, blocked=255,
    ).toPandas()
    inside = pdf[(pdf.gx > 10) & (pdf.gx < 20) & (pdf.gy > 10) & (pdf.gy < 20)]
    assert (inside["dist"] == -1).all()
    outside = pdf[(pdf.gx < 10) | (pdf.gx > 20) | (pdf.gy < 10) | (pdf.gy > 20)]
    assert (outside["dist"] >= 0).all()


@pytest.mark.parametrize("seed,s", [(71, 1), (72, 2)])
def test_fuzz_allocation_matches_per_source(spark, seed, s):
    """allocate=True == independent per-source scalar Dijkstras composed
    with argmin (ties to the lowest source index)."""
    n, ts = 64, 16
    rng = np.random.default_rng(seed)
    v = rng.integers(1, 4, size=(n, n)).astype(np.int64)
    wall = rng.random((n, n)) < 0.15
    raster = np.where(wall, np.int64(255), v).astype(np.uint8)
    cost = to_cost(v, wall)
    srcs = []
    while len(srcs) < 3:
        x, y = map(int, rng.integers(0, n, 2))
        if cost[y, x] >= 0 and (x, y) not in srcs:
            srcs.append((x, y))
    per = [global_dijkstra(cost, [sxy]) for sxy in srcs]
    stack = np.stack([np.where(d < 0, np.int64(1 << 60), d) for d in per])
    best = stack.min(axis=0)
    alloc = np.where(best >= (1 << 60), np.int64(-1), stack.argmin(axis=0) + 1)
    want_d = np.where(best >= (1 << 60), np.int64(-1), best)
    pdf = cost_distance(
        dem_to_tiles(spark, raster.astype(np.int64), ts),
        srcs, tile_size=ts, super_tiles=s, blocked=255, allocate=True,
    ).toPandas()
    got_d = np.full((n, n), -1, dtype=np.int64)
    got_a = np.full((n, n), -1, dtype=np.int64)
    got_d[pdf["gy"].to_numpy(), pdf["gx"].to_numpy()] = pdf["dist"].to_numpy()
    got_a[pdf["gy"].to_numpy(), pdf["gx"].to_numpy()] = pdf["src"].to_numpy()
    got_d = np.where(cost < 0, np.int64(-1), got_d)
    got_a = np.where(cost < 0, np.int64(-1), got_a)
    np.testing.assert_array_equal(got_d, np.where(cost < 0, np.int64(-1), want_d))
    np.testing.assert_array_equal(got_a, np.where(cost < 0, np.int64(-1), alloc))


def scalar_backtrace(cost, dist_grid, sources, target):
    """Independent path walk: follow the dist-consistent predecessor
    (ascending ESRI code) from target to the nearest source."""
    from versatiles_rs_spark.operators.focal import _D8_DELTA

    src = set(sources)
    H, W = cost.shape
    path = []
    x, y = target
    if dist_grid[y, x] < 0:
        return path
    while True:
        path.append((x, y, int(dist_grid[y, x])))
        if (x, y) in src:
            return path
        nxt = None
        for code, (dx, dy) in sorted(_D8_DELTA.items()):
            qx, qy = x + dx, y + dy
            if not (0 <= qx < W and 0 <= qy < H) or cost[qy, qx] < 0:
                continue
            scale = 7 if dx and dy else 5
            if (
                dist_grid[qy, qx] >= 0
                and dist_grid[qy, qx]
                + (int(cost[qy, qx]) + int(cost[y, x])) * scale
                == dist_grid[y, x]
            ):
                nxt = (qx, qy)
                break
        assert nxt is not None, (x, y)
        x, y = nxt


@pytest.mark.parametrize(
    "seed,s,forced",
    [(81, 1, False), (82, 2, True), (81, 2, True)],
    ids=["81-1-driver", "82-2-doubling", "81-2-doubling"],
)
def test_fuzz_least_cost_path(spark, seed, s, forced, force_distributed):
    """Path backtrace == scalar predecessor walk on random rasters, for
    reachable and unreachable targets, across super-tile splits — by the
    driver walk, and by pointer doubling when forced past the guard."""
    from versatiles_rs_spark.operators.costdist import least_cost_path

    n, ts = 64, 16
    rng = np.random.default_rng(seed)
    v = rng.integers(1, 4, size=(n, n)).astype(np.int64)
    wall = rng.random((n, n)) < 0.12
    raster = np.where(wall, np.int64(255), v).astype(np.uint8)
    cost = to_cost(v, wall)
    srcs = []
    while len(srcs) < 2:
        x, y = map(int, rng.integers(0, n, 2))
        if cost[y, x] >= 0 and (x, y) not in srcs:
            srcs.append((x, y))
    dist_grid = global_dijkstra(cost, srcs)
    tgts = []
    while len(tgts) < 3:
        x, y = map(int, rng.integers(0, n, 2))
        if cost[y, x] >= 0 and (x, y) not in tgts:
            tgts.append((x, y))
    with guard.recording() as rec, (
        force_distributed() if forced else contextlib.nullcontext()
    ):
        pdf = least_cost_path(
            dem_to_tiles(spark, raster.astype(np.int64), ts),
            srcs, tgts, tile_size=ts, super_tiles=s, blocked=255,
        ).toPandas()
    got = {
        tid: sorted(
            (int(r.gx), int(r.gy), int(r.dist))
            for r in g.itertuples(index=False)
        )
        for tid, g in pdf.groupby("tid")
    }
    for i, t in enumerate(tgts, start=1):
        want = sorted(
            (x, y, d) for x, y, d in scalar_backtrace(cost, dist_grid, srcs, t)
        )
        assert got.get(i, []) == want, f"target {i}"
    walk = rec["least_cost_path"]
    assert walk["path"] == ("distributed" if forced else "driver")
    assert walk.get("rounds", 0) >= (1 if forced else 0)


def test_auto_super_tiles_tries_non_power_of_two_cap(spark):
    """tile_size=300 caps S at 2048 // 300 = 6: a 6x6-tile extent is covered
    by one S=6 block though no power of two up to the cap covers it."""
    from versatiles_rs_spark.operators.costdist import resolve_super_tiles

    tiles = spark.createDataFrame(
        [(x, y) for x in range(6) for y in range(6)], "x long, y long"
    )
    assert resolve_super_tiles(tiles, 300, "auto") == (6, True)
    assert resolve_super_tiles(tiles.filter("x < 4 and y < 4"), 300, "auto") == (4, True)
    assert resolve_super_tiles(tiles.union(spark.createDataFrame([(6, 0)], "x long, y long")),
                               300, "auto") == (6, False)
