"""Focal terrain statistics with halo exchange (operators/focal.py).

The reference has no cross-tile neighborhood operator (every
versatiles_image kernel is intra-tile); the parity anchor here is the
brute-force global-array evaluation: terrain_fields over the WHOLE
mosaic as one numpy array is the ground truth, and the distributed
two-pass halo exchange must reproduce it exactly, tile by tile."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from versatiles_rs_spark import fixtures, guard
from versatiles_rs_spark.fixtures import dem_value
from versatiles_rs_spark.operators.focal import (
    _ID_BASE,
    _pack_frame,
    _unpack_frame,
    d8_basins,
    d8_successors,
    focal_terrain_pixels,
    focal_terrain_stats,
    terrain_fields,
)


def global_expected(n_px_side: int, tile_size: int = 256):
    """Ground truth: evaluate the kernel on the full mosaic, then group
    sums by the tile that OWNS each output pixel."""
    gx = np.arange(n_px_side, dtype=np.int64)
    v = dem_value(gx[None, :], gx[:, None])
    f = terrain_fields(v)
    n_tiles = n_px_side // tile_size
    out = {}
    for ty in range(n_tiles):
        for tx in range(n_tiles):
            r0 = max(ty * tile_size, 1)
            r1 = min((ty + 1) * tile_size, n_px_side - 1)
            c0 = max(tx * tile_size, 1)
            c1 = min((tx + 1) * tile_size, n_px_side - 1)
            sub = lambda a: a[r0 - 1 : r1 - 1, c0 - 1 : c1 - 1]
            tri, tpi = sub(f["tri"]), sub(f["tpi8"])
            d8, rng = sub(f["d8"]), sub(f["frange"])
            out[(tx, ty)] = (
                tri.size, int(tri.sum()), int(tpi.sum()), int(np.abs(tpi).sum()),
                int((d8 == 0).sum()), int(d8.sum()), int(rng.sum()),
            )
    return out


def collect_stats(df):
    return {
        (r["x"], r["y"]): (
            r["n_px"], r["sum_tri"], r["sum_tpi"], r["sum_abs_tpi"],
            r["n_sinks"], r["sum_d8"], r["sum_range"],
        )
        for r in df.collect()
    }


def test_dem_fixture_png_roundtrip(spark):
    """dem_raster_df tiles decode back to the closed-form dem_value grid."""
    from versatiles_rs_spark.codecs import decode_image

    rows = fixtures.dem_raster_df(spark, zoom=1, partitions=2).collect()
    assert len(rows) == 4
    for r in rows:
        img = decode_image(bytes(r["bytes"]))[..., 0]
        gx = np.arange(r["x"] * 256, (r["x"] + 1) * 256, dtype=np.int64)
        gy = np.arange(r["y"] * 256, (r["y"] + 1) * 256, dtype=np.int64)
        exp = dem_value(gx[None, :], gy[:, None])
        assert exp.max() <= 255 and exp.min() >= 0
        np.testing.assert_array_equal(img.astype(np.int64), exp)


def test_frame_pack_roundtrip():
    rng = np.random.RandomState(7)
    v = rng.randint(0, 256, size=(16, 16)).astype(np.int64)
    grid = np.full((18, 18), -1, dtype=np.int64)
    _unpack_frame(_pack_frame(v), 16, grid)
    # the 2px border frame of v must be back in place, interior untouched
    np.testing.assert_array_equal(grid[1:3, 1:17], v[0:2, :])
    np.testing.assert_array_equal(grid[15:17, 1:17], v[-2:, :])
    np.testing.assert_array_equal(grid[3:15, 1:3], v[2:-2, 0:2])
    np.testing.assert_array_equal(grid[3:15, 15:17], v[2:-2, -2:])
    assert (grid[4:14, 4:14] == -1).all()
    assert (grid[0, :] == -1).all() and (grid[:, 17] == -1).all()


def test_terrain_fields_d8_tiebreak_and_sentinel():
    # center higher than E and S by the same drop: both cardinal ->
    # equal score; tie must take the SMALLEST ESRI code (E=1, not S=4)
    p = np.full((3, 3), 5, dtype=np.int64)
    p[1, 2] = 3  # E
    p[2, 1] = 3  # S
    f = terrain_fields(p)
    assert f["d8"][0, 0] == 1 and f["valid"][0, 0]
    # diagonal distance correction: cardinal drop 2 (score 8) beats
    # diagonal drop 2 (score 4) but loses to diagonal drop 3 (score 9)
    p = np.full((3, 3), 5, dtype=np.int64)
    p[1, 2] = 3   # E, drop 2 -> 8
    p[2, 2] = 2   # SE, drop 3 -> 9
    assert terrain_fields(p)["d8"][0, 0] == 2
    # any sentinel neighbor invalidates the pixel
    p[0, 0] = -1
    f = terrain_fields(p)
    assert not f["valid"][0, 0]
    # flat / pit -> 0
    flat = np.zeros((3, 3), dtype=np.int64)
    assert terrain_fields(flat)["d8"][0, 0] == 0


def test_focal_terrain_distributed_matches_global(spark):
    """The whole point: two-pass halo exchange == single global array,
    bit for bit, on a 4x4-tile mosaic (includes all 8 strip directions,
    4 corner tiles, 8 edge tiles, 4 fully-interior tiles)."""
    tiles = fixtures.dem_raster_df(spark, zoom=2, partitions=8)
    got = collect_stats(focal_terrain_stats(tiles))
    exp = global_expected(1024)
    assert got == exp


def test_focal_terrain_single_tile_world(spark):
    """zoom 0: no neighbors anywhere — output must be exactly the
    254x254 interior (the whole ring lacks global 3x3 support)."""
    tiles = fixtures.dem_raster_df(spark, zoom=0, partitions=1)
    got = collect_stats(focal_terrain_stats(tiles))
    exp = global_expected(256)
    assert got == exp
    assert got[(0, 0)][0] == 254 * 254


def global_pixel_fields(n_px_side: int):
    """Ground truth for the pixel-level relation: kernel over the whole
    mosaic; pixel universe = every (gx, gy) with full global 3x3 support,
    i.e. both coords in [1, n-2]."""
    gx = np.arange(n_px_side, dtype=np.int64)
    v = dem_value(gx[None, :], gx[:, None])
    f = terrain_fields(v)  # index (i, j) -> global pixel (gy=i+1, gx=j+1)
    return v, f


def test_focal_terrain_pixels_matches_global(spark):
    """Pixel-level halo exchange == single global array, every field,
    every pixel, on the 2x2-tile mosaic (ring pixels cross tiles)."""
    n = 512
    v, f = global_pixel_fields(n)
    pdf = (
        focal_terrain_pixels(fixtures.dem_raster_df(spark, zoom=1, partitions=4))
        .toPandas()
        .sort_values(["gy", "gx"])
        .reset_index(drop=True)
    )
    assert len(pdf) == (n - 2) * (n - 2)
    i = pdf["gy"].to_numpy() - 1
    j = pdf["gx"].to_numpy() - 1
    np.testing.assert_array_equal(pdf["elev"].to_numpy(), v[1:-1, 1:-1][i, j])
    np.testing.assert_array_equal(pdf["d8"].to_numpy(), f["d8"][i, j])


def expected_basins(n_px_side: int):
    """Brute-force basin labels: numpy-walk the D8 pointer field to its
    fixed point (sinks self-loop; a successor outside the [1, n-2]^2
    universe freezes — flow exits the raster)."""
    _, f = global_pixel_fields(n_px_side)
    d8 = f["d8"]
    h = d8.shape[0]
    dxy = {0: (0, 0), 1: (1, 0), 2: (1, 1), 4: (0, 1), 8: (-1, 1),
           16: (-1, 0), 32: (-1, -1), 64: (0, -1), 128: (1, -1)}
    dx = np.zeros_like(d8)
    dy = np.zeros_like(d8)
    for code, (cx, cy) in dxy.items():
        dx = np.where(d8 == code, cx, dx)
        dy = np.where(d8 == code, cy, dy)
    ii, jj = np.meshgrid(np.arange(h), np.arange(h), indexing="ij")
    lr, lc = ii + dy, jj + dx  # label, 0-based in field coords
    for _ in range(4 * h):
        inside = (lr >= 0) & (lr < h) & (lc >= 0) & (lc < h)
        nr = np.where(inside, lr[lr.clip(0, h - 1), lc.clip(0, h - 1)], lr)
        nc = np.where(inside, lc[lr.clip(0, h - 1), lc.clip(0, h - 1)], lc)
        if (nr == lr).all() and (nc == lc).all():
            break
        lr, lc = nr, nc
    else:
        raise AssertionError("numpy basin walk did not converge")
    out: dict[tuple[int, int], int] = {}
    for bx, by in zip((lc + 1).ravel(), (lr + 1).ravel()):
        out[(int(bx), int(by))] = out.get((int(bx), int(by)), 0) + 1
    return out


def test_d8_successors_deltas(spark):
    rows = [(10, 20, 100, 0), (10, 20, 100, 1), (10, 20, 100, 8), (10, 20, 100, 64)]
    df = spark.createDataFrame(rows, "gx long, gy long, elev long, d8 long")
    got = {r["succ"] for r in d8_successors(df).collect()}
    pid = lambda gx, gy: gx * _ID_BASE + gy
    assert got == {pid(10, 20), pid(11, 20), pid(9, 21), pid(10, 19)}


def test_d8_basins_matches_numpy_walk(spark):
    """Pointer doubling over the distributed flow graph == the numpy
    step-by-step walk, as (outlet -> basin size) histograms, zoom 0."""
    pixels = focal_terrain_pixels(fixtures.dem_raster_df(spark, zoom=0, partitions=1))
    labels = d8_basins(d8_successors(pixels), rounds=6)
    got = {
        (r["bx"], r["by"]): r["n"]
        for r in labels.groupBy(
            (labels.label / _ID_BASE).cast("long").alias("bx"),
            (labels.label % _ID_BASE).alias("by"),
        ).count().withColumnRenamed("count", "n").collect()
    }
    assert got == expected_basins(256)


def test_d8_basins_fixpoint_mode(spark):
    """rounds=None iterates to the fixed point and reports the round
    count; result must equal the fixed-schedule run and be idempotent
    (every label is its own basin representative)."""
    pixels = focal_terrain_pixels(
        fixtures.dem_raster_df(spark, zoom=0, partitions=1)
    ).cache()
    try:
        with guard.recording() as rec:
            fix = d8_basins(d8_successors(pixels), rounds=None)
        fixed = d8_basins(d8_successors(pixels), rounds=6)
        assert rec["d8_basins"]["rounds"] <= 7
        a = sorted(map(tuple, fix.collect()))
        b = sorted(map(tuple, fixed.collect()))
        assert a == b
        # idempotence: labels joined against the successor map stay put
        succ = d8_successors(pixels)
        moved = (
            fix.join(succ.withColumnRenamed("id", "label2"), fix.label == F.col("label2"))
            .filter((F.col("succ") != F.col("label2")))
            .count()
        )
        assert moved == 0
    finally:
        pixels.unpersist()


def test_d8_flow_length_matches_numpy_walk(spark):
    """Wyllie doubling with value accumulation == per-step numpy walk
    (10 cardinal / 14 diagonal), every pixel, zoom 0."""
    from versatiles_rs_spark.operators.focal import d8_flow_length

    _, f = global_pixel_fields(256)
    d8 = f["d8"]
    h = d8.shape[0]
    dxy = {1: (1, 0), 2: (1, 1), 4: (0, 1), 8: (-1, 1),
           16: (-1, 0), 32: (-1, -1), 64: (0, -1), 128: (1, -1)}
    dx = np.zeros_like(d8)
    dy = np.zeros_like(d8)
    w = np.zeros_like(d8)
    for code, (cx, cy) in dxy.items():
        dx = np.where(d8 == code, cx, dx)
        dy = np.where(d8 == code, cy, dy)
        w = np.where(d8 == code, 10 if cx == 0 or cy == 0 else 14, w)
    ii, jj = np.meshgrid(np.arange(h), np.arange(h), indexing="ij")
    dist = w.copy()
    cr, cc2 = ii + dy, jj + dx  # current position after the charged step
    for _ in range(4 * h):
        inside = (cr >= 0) & (cr < h) & (cc2 >= 0) & (cc2 < h)
        crc, ccc = cr.clip(0, h - 1), cc2.clip(0, h - 1)
        step = inside & (d8[crc, ccc] > 0)
        if not step.any():
            break
        dist = np.where(step, dist + w[crc, ccc], dist)
        nr = np.where(step, cr + dy[crc, ccc], cr)
        nc = np.where(step, cc2 + dx[crc, ccc], cc2)
        cr, cc2 = nr, nc
    else:
        raise AssertionError("numpy flow-length walk did not converge")
    pixels = focal_terrain_pixels(fixtures.dem_raster_df(spark, zoom=0, partitions=1))
    pdf = d8_flow_length(pixels, rounds=6).toPandas()
    got = np.zeros_like(dist)
    got[pdf["gy"].to_numpy() - 1, pdf["gx"].to_numpy() - 1] = pdf["flow_len"].to_numpy()
    np.testing.assert_array_equal(got, dist)


def test_watershed_membership_matches_numpy_walk(spark):
    """Forcing outlets terminal == stopping the sequential walk at the
    first outlet: membership maps match pixel-for-pixel on zoom 0, with
    one outlet nested INSIDE another's catchment (the hard case)."""
    from versatiles_rs_spark.operators.focal import watershed_membership

    _, f = global_pixel_fields(256)
    d8 = f["d8"]
    h = d8.shape[0]
    dxy = {0: (0, 0), 1: (1, 0), 2: (1, 1), 4: (0, 1), 8: (-1, 1),
           16: (-1, 0), 32: (-1, -1), 64: (0, -1), 128: (1, -1)}
    dx = np.zeros_like(d8)
    dy = np.zeros_like(d8)
    for code, (cx, cy) in dxy.items():
        dx = np.where(d8 == code, cx, dx)
        dy = np.where(d8 == code, cy, dy)
    # outlets: a sink plus a pixel strictly upstream of it (nested) —
    # pick the first flowing pixel whose target is an in-grid sink
    ii, jj = np.meshgrid(np.arange(h), np.arange(h), indexing="ij")
    ti, tj = ii + dy, jj + dx
    in_grid = (ti >= 0) & (ti < h) & (tj >= 0) & (tj < h)
    feeds_sink = (d8 > 0) & in_grid & (d8[ti.clip(0, h - 1), tj.clip(0, h - 1)] == 0)
    assert feeds_sink.any(), "fixture has a sink with an upstream pixel"
    up_i, up_j = map(int, np.argwhere(feeds_sink)[0])
    sink_i, sink_j = int(ti[up_i, up_j]), int(tj[up_i, up_j])
    outs = {(sink_i, sink_j), (up_i, up_j)}
    # sequential walk, stopping at the first outlet
    exp: dict[tuple[int, int], set] = {o: set() for o in outs}
    for i in range(h):
        for j in range(h):
            ci, cj = i, j
            for _ in range(h * 4):
                if (ci, cj) in outs:
                    exp[(ci, cj)].add((i, j))
                    break
                ndi, ndj = int(dy[ci, cj]), int(dx[ci, cj])
                if ndi == 0 and ndj == 0:
                    break  # non-outlet sink
                ni, nj = ci + ndi, cj + ndj
                if not (0 <= ni < h and 0 <= nj < h):
                    break  # drains off the raster
                ci, cj = ni, nj
    pixels = focal_terrain_pixels(fixtures.dem_raster_df(spark, zoom=0, partitions=1))
    pid = lambda i, j: (j + 1) * _ID_BASE + (i + 1)
    outlets = spark.createDataFrame([(pid(i, j),) for i, j in outs], "id long")
    got: dict[tuple[int, int], set] = {o: set() for o in outs}
    for r in watershed_membership(d8_successors(pixels), outlets, rounds=6).collect():
        o = (int(r["outlet"] % _ID_BASE - 1), int(r["outlet"] // _ID_BASE - 1))
        got[o].add((int(r["id"] % _ID_BASE - 1), int(r["id"] // _ID_BASE - 1)))
    assert got == exp
    assert (up_i, up_j) in exp[(up_i, up_j)]  # nested outlet keeps itself


def test_focal_terrain_payload_never_shuffles(spark):
    """Only slim border strips cross the Exchange: the tile payload column
    is consumed by the first (and only) decode pass, so `bytes#` must not
    appear in any Exchange key list — and only ONE Python evaluation of
    the payload exists in the plan (single decode)."""
    tiles = fixtures.dem_raster_df(spark, zoom=1, partitions=2)
    plan = focal_terrain_stats(tiles)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "bytes#" not in line, f"payload in shuffle: {line.strip()[:140]}"


# ---------------------------------------------------------------------------
# Horn slope / aspect statistics (gdaldem slope + aspect parity)
# ---------------------------------------------------------------------------

def _global_slope_aspect(n_px_side: int, tile_size: int = 256):
    """Independent ground truth: Horn p/q by explicit slicing over the
    full mosaic (NOT via terrain_fields), octants by the documented
    integer predicates, grouped by owning tile."""
    gx = np.arange(n_px_side, dtype=np.int64)
    v = dem_value(gx[None, :], gx[:, None])
    c = lambda dr, dc: v[1 + dr : n_px_side - 1 + dr, 1 + dc : n_px_side - 1 + dc]
    nw, n_, ne = c(-1, -1), c(-1, 0), c(-1, 1)
    w_, e_ = c(0, -1), c(0, 1)
    sw, s_, se = c(1, -1), c(1, 0), c(1, 1)
    p = (ne + 2 * e_ + se) - (nw + 2 * w_ + sw)
    q = (sw + 2 * s_ + se) - (nw + 2 * n_ + ne)
    e, n = -p, q
    sl = p * p + q * q
    preds = [
        (e == 0) & (n == 0),
        (n > 0) & (e >= 0) & (n > e),
        (e > 0) & (n > 0) & (e >= n),
        (e > 0) & (n <= 0) & (e > -n),
        (e > 0) & (n < 0) & (-n >= e),
        (n < 0) & (e <= 0) & (-n > -e),
        (e < 0) & (n < 0) & (-e >= -n),
        (e < 0) & (n >= 0) & (-e > n),
        (e < 0) & (n > 0) & (n >= -e),
    ]
    n_tiles = n_px_side // tile_size
    out = {}
    for ty in range(n_tiles):
        for tx in range(n_tiles):
            r0 = max(ty * tile_size, 1)
            r1 = min((ty + 1) * tile_size, n_px_side - 1)
            c0 = max(tx * tile_size, 1)
            c1 = min((tx + 1) * tile_size, n_px_side - 1)
            sub = lambda a: a[r0 - 1 : r1 - 1, c0 - 1 : c1 - 1]
            slm = sub(sl)
            out[(tx, ty)] = (
                [slm.size]
                + [int(sub(pr).sum()) for pr in preds]
                + [int(slm.sum()), int(slm.max()) if slm.size else -1]
            )
    return out


_SLOPE_KEYS = [
    "n_px", "n_flat", "n_n", "n_ne", "n_e", "n_se", "n_s", "n_sw", "n_w",
    "n_nw", "sum_sl", "max_sl",
]


def test_slope_aspect_distributed_matches_global(spark):
    from versatiles_rs_spark.operators.focal import slope_aspect_stats

    tiles = fixtures.dem_raster_df(spark, zoom=2, partitions=8)
    got = {
        (r["x"], r["y"]): [r[k] for k in _SLOPE_KEYS]
        for r in slope_aspect_stats(tiles).collect()
    }
    assert got == _global_slope_aspect(1024)


def test_aspect_octants_partition_the_plane():
    """Every non-flat (e, n) falls in EXACTLY one octant, and away from
    bin boundaries the integer predicates agree with clockwise-from-north
    angle binning (floor(angle / 45)); boundaries follow the documented
    half-open rule."""
    rng = np.random.default_rng(7)
    e = rng.integers(-50, 51, size=4096)
    n = rng.integers(-50, 51, size=4096)
    preds = [
        (n > 0) & (e >= 0) & (n > e),
        (e > 0) & (n > 0) & (e >= n),
        (e > 0) & (n <= 0) & (e > -n),
        (e > 0) & (n < 0) & (-n >= e),
        (n < 0) & (e <= 0) & (-n > -e),
        (e < 0) & (n < 0) & (-e >= -n),
        (e < 0) & (n >= 0) & (-e > n),
        (e < 0) & (n > 0) & (n >= -e),
    ]
    stack = np.stack(preds)
    nonflat = ~((e == 0) & (n == 0))
    assert (stack.sum(axis=0)[nonflat] == 1).all()
    assert (stack.sum(axis=0)[~nonflat] == 0).all()
    # angle check away from the exact 45-degree boundaries
    interior = nonflat & (e != 0) & (n != 0) & (np.abs(e) != np.abs(n))
    ang = np.degrees(np.arctan2(e[interior], n[interior])) % 360.0
    assert (stack[:, interior].argmax(axis=0) == (ang // 45).astype(int)).all()


def test_slope_aspect_payload_never_shuffles(spark):
    from versatiles_rs_spark.operators.focal import slope_aspect_stats

    tiles = fixtures.dem_raster_df(spark, zoom=1, partitions=2)
    plan = slope_aspect_stats(tiles)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "bytes#" not in line, f"payload in shuffle: {line.strip()[:140]}"


# ---------------------------------------------------------------------------
# Zevenbergen & Thorne curvature
# ---------------------------------------------------------------------------

_CURV_KEYS = [
    "n_px", "sum_lap", "sum_abs_lap", "n_convex", "n_concave", "n_planar",
    "n_plan_pos", "n_plan_neg", "n_plan_zero",
    "n_prof_pos", "n_prof_neg", "n_prof_zero",
]


def _global_curvature(n_px_side: int, tile_size: int = 256):
    """Independent ground truth: Z&T numerators by explicit slicing over
    the full mosaic (NOT via terrain_fields), grouped by owning tile."""
    gx = np.arange(n_px_side, dtype=np.int64)
    v = dem_value(gx[None, :], gx[:, None])
    c = lambda dr, dc: v[1 + dr : n_px_side - 1 + dr, 1 + dc : n_px_side - 1 + dc]
    nw, n_, ne = c(-1, -1), c(-1, 0), c(-1, 1)
    w_, cc, e_ = c(0, -1), c(0, 0), c(0, 1)
    sw, s_, se = c(1, -1), c(1, 0), c(1, 1)
    g, h = e_ - w_, n_ - s_
    d, e = w_ + e_ - 2 * cc, n_ + s_ - 2 * cc
    f = ne + sw - nw - se
    lap = d + e
    plan = 2 * d * h * h + 2 * e * g * g - f * g * h
    prof = -(2 * d * g * g + 2 * e * h * h + f * g * h)
    n_tiles = n_px_side // tile_size
    out = {}
    for ty in range(n_tiles):
        for tx in range(n_tiles):
            r0 = max(ty * tile_size, 1)
            r1 = min((ty + 1) * tile_size, n_px_side - 1)
            c0 = max(tx * tile_size, 1)
            c1 = min((tx + 1) * tile_size, n_px_side - 1)
            sub = lambda a: a[r0 - 1 : r1 - 1, c0 - 1 : c1 - 1]
            lp, pl, pr = sub(lap), sub(plan), sub(prof)
            out[(tx, ty)] = [
                lp.size, int(lp.sum()), int(np.abs(lp).sum()),
                int((lp < 0).sum()), int((lp > 0).sum()), int((lp == 0).sum()),
                int((pl > 0).sum()), int((pl < 0).sum()), int((pl == 0).sum()),
                int((pr > 0).sum()), int((pr < 0).sum()), int((pr == 0).sum()),
            ]
    return out


def test_curvature_distributed_matches_global(spark):
    from versatiles_rs_spark.operators.focal import curvature_stats

    tiles = fixtures.dem_raster_df(spark, zoom=2, partitions=8)
    got = {
        (r["x"], r["y"]): [r[k] for k in _CURV_KEYS]
        for r in curvature_stats(tiles).collect()
    }
    assert got == _global_curvature(1024)


def test_curvature_analytic_surfaces():
    """Closed-form sanity on analytic patches via terrain_fields:
    a tilted plane is planar everywhere (lap = plan = prof = 0); a
    paraboloid pit v = x^2 + y^2 is concave (lap > 0) with negative
    profile curvature away from the apex; its dome mirror is convex with
    the mirrored signs; plan/prof signs at slope-flat pixels are zero."""
    from versatiles_rs_spark.operators.focal import terrain_fields

    def fields(v):
        pad = np.full((v.shape[0] + 2, v.shape[1] + 2), -1, dtype=np.int64)
        pad[1:-1, 1:-1] = v
        return terrain_fields(pad)

    # tilted plane v = 3x + 2y + 10 over a 16x16 patch
    x = np.arange(16, dtype=np.int64)
    plane = 3 * x[None, :] + 2 * x[:, None] + 10
    f = fields(plane)
    inner = np.zeros((16, 16), dtype=bool)
    inner[1:-1, 1:-1] = True
    lap = (f["dnum"] + f["enum"])[inner]
    g, h = f["gnum"], f["hnum"]
    plan = (2 * f["dnum"] * h * h + 2 * f["enum"] * g * g - f["fnum"] * g * h)[inner]
    prof = (-(2 * f["dnum"] * g * g + 2 * f["enum"] * h * h + f["fnum"] * g * h))[inner]
    assert (lap == 0).all() and (plan == 0).all() and (prof == 0).all()

    # paraboloid pit v = (x-8)^2 + (y-8)^2 (clipped inner ring only)
    cx = (x - 8) ** 2
    pit = cx[None, :] + cx[:, None]
    fp = fields(pit)
    lap_p = (fp["dnum"] + fp["enum"])[inner]
    assert (lap_p > 0).all()  # d2 = +2 each axis -> lap = 4 everywhere
    g, h = fp["gnum"], fp["hnum"]
    prof_p = -(2 * fp["dnum"] * g * g + 2 * fp["enum"] * h * h + fp["fnum"] * g * h)
    sloped = inner & ((g != 0) | (h != 0))
    assert (prof_p[sloped] < 0).all()  # uphill-accelerating everywhere
    flat = inner & (g == 0) & (h == 0)
    plan_p = 2 * fp["dnum"] * h * h + 2 * fp["enum"] * g * g - fp["fnum"] * g * h
    assert (plan_p[flat] == 0).all() and (prof_p[flat] == 0).all()

    # dome mirror: every sign flips
    dome = 512 - pit
    fd = fields(dome)
    lap_d = (fd["dnum"] + fd["enum"])[inner]
    assert (lap_d < 0).all()
    g, h = fd["gnum"], fd["hnum"]
    prof_d = -(2 * fd["dnum"] * g * g + 2 * fd["enum"] * h * h + fd["fnum"] * g * h)
    assert (prof_d[sloped] > 0).all()


def test_curvature_payload_never_shuffles(spark):
    from versatiles_rs_spark.operators.focal import curvature_stats

    tiles = fixtures.dem_raster_df(spark, zoom=1, partitions=2)
    plan = curvature_stats(tiles)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "bytes#" not in line, f"payload in shuffle: {line.strip()[:140]}"


# ---------------------------------------------------------------------------
# Focal majority (mode) filter
# ---------------------------------------------------------------------------

def _global_majority(n_px_side: int, n_classes: int = 5, tile_size: int = 256):
    """Independent ground truth: per-pixel 3x3 mode by explicit slicing
    (ties to smallest class), grouped by owning tile."""
    from versatiles_rs_spark.fixtures import landcover_value

    gx = np.arange(n_px_side, dtype=np.int64)
    v = landcover_value(gx[None, :], gx[:, None])
    c = lambda dr, dc: v[1 + dr : n_px_side - 1 + dr, 1 + dc : n_px_side - 1 + dc]
    cells = [c(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)]
    counts = np.zeros((n_classes,) + cells[0].shape, dtype=np.int64)
    for cell in cells:
        for k in range(n_classes):
            counts[k] += cell == k
    mode = counts.argmax(axis=0)
    changed = mode != c(0, 0)
    n_tiles = n_px_side // tile_size
    out = {}
    for ty in range(n_tiles):
        for tx in range(n_tiles):
            r0 = max(ty * tile_size, 1)
            r1 = min((ty + 1) * tile_size, n_px_side - 1)
            c0 = max(tx * tile_size, 1)
            c1 = min((tx + 1) * tile_size, n_px_side - 1)
            sub = lambda a: a[r0 - 1 : r1 - 1, c0 - 1 : c1 - 1]
            m = sub(mode)
            out[(tx, ty)] = (
                [m.size, int(sub(changed).sum())]
                + [int((m == k).sum()) for k in range(n_classes)]
            )
    return out


def test_majority_distributed_matches_global(spark):
    from versatiles_rs_spark.operators.focal import majority_stats

    keys = ["n_px", "n_changed"] + [f"n_cls_{k}" for k in range(5)]
    tiles = fixtures.class_raster_df(spark, zoom=1, partitions=4)
    got = {
        (r["x"], r["y"]): [r[k] for k in keys]
        for r in majority_stats(tiles, n_classes=5, band=1).collect()
    }
    assert got == _global_majority(512)


def test_majority_kernel_tie_rule():
    """Mode ties go to the SMALLEST class; uniform windows never change;
    a strict majority always wins regardless of the center value."""
    from versatiles_rs_spark.operators.focal import majority_fields

    kern = majority_fields(3)
    # window with classes {0: 4, 1: 4, 2: 1} -> tie 0 vs 1 -> mode 0
    patch = np.array([
        [0, 0, 1],
        [0, 0, 1],
        [1, 1, 2],
    ], dtype=np.int64)
    pad = np.full((5, 5), -1, dtype=np.int64)
    pad[1:-1, 1:-1] = patch
    f = kern(pad)
    assert f["mode"][1, 1] == 0 and f["valid"][1, 1]
    assert not f["valid"][0, 0]  # sentinel corner in window
    # uniform window: mode == center, changed False
    pad[1:-1, 1:-1] = 2
    f = kern(pad)
    assert f["mode"][1, 1] == 2 and not f["changed"][1, 1]
    # strict majority of 1s around a center 0
    patch = np.array([
        [1, 1, 1],
        [1, 0, 1],
        [2, 2, 0],
    ], dtype=np.int64)
    pad[1:-1, 1:-1] = patch
    f = kern(pad)
    assert f["mode"][1, 1] == 1 and f["changed"][1, 1]


# ---------------------------------------------------------------------------
# Horn hillshade
# ---------------------------------------------------------------------------

_HILL_KEYS = ["n_px", "sum_shade", "n_shadow", "max_shade"]


def _shade_v(p, q):
    """Documented per-pixel epilogue, straight from the formula block in
    operators/focal.py (independent of _hillshade_partial_row)."""
    num = (p + q).astype(np.float64) + 8.0 * np.sqrt(2.0)
    r = num / (2.0 * np.sqrt((p * p + q * q + 64).astype(np.float64)))
    v = np.where(r <= 0.0, 0, np.minimum(np.floor(254.0 * r) + 1, 255)).astype(np.int64)
    return r, v


def _global_hillshade(n_px_side: int, tile_size: int = 256):
    """Independent ground truth: Horn p/q by explicit slicing (NOT via
    terrain_fields), shade by the documented epilogue, grouped by tile."""
    gx = np.arange(n_px_side, dtype=np.int64)
    v = dem_value(gx[None, :], gx[:, None])
    c = lambda dr, dc: v[1 + dr : n_px_side - 1 + dr, 1 + dc : n_px_side - 1 + dc]
    nw, n_, ne = c(-1, -1), c(-1, 0), c(-1, 1)
    w_, e_ = c(0, -1), c(0, 1)
    sw, s_, se = c(1, -1), c(1, 0), c(1, 1)
    p = (ne + 2 * e_ + se) - (nw + 2 * w_ + sw)
    q = (sw + 2 * s_ + se) - (nw + 2 * n_ + ne)
    r, shade = _shade_v(p, q)
    n_tiles = n_px_side // tile_size
    out = {}
    for ty in range(n_tiles):
        for tx in range(n_tiles):
            r0 = max(ty * tile_size, 1)
            r1 = min((ty + 1) * tile_size, n_px_side - 1)
            c0 = max(tx * tile_size, 1)
            c1 = min((tx + 1) * tile_size, n_px_side - 1)
            sub = lambda a: a[r0 - 1 : r1 - 1, c0 - 1 : c1 - 1]
            sv, sr = sub(shade), sub(r)
            out[(tx, ty)] = [
                sv.size, int(sv.sum()), int((sr <= 0.0).sum()),
                int(sv.max()) if sv.size else -1,
            ]
    return out


def test_hillshade_distributed_matches_global(spark):
    from versatiles_rs_spark.operators.focal import hillshade_stats

    tiles = fixtures.dem_raster_df(spark, zoom=2, partitions=8)
    got = {
        (r["x"], r["y"]): [r[k] for k in _HILL_KEYS]
        for r in hillshade_stats(tiles).collect()
    }
    assert got == _global_hillshade(1024)


def test_hillshade_illumination_laws():
    """Flat ground shades to floor(254/sqrt(2))+1 = 180; NW-facing slopes
    outshine their SE-facing mirrors; a steep SE-facing slope
    self-shadows (v = 0); everything stays in [0, 255]."""
    _, flat = _shade_v(np.array([0]), np.array([0]))
    assert flat[0] == int(np.floor(254.0 / np.sqrt(2.0))) + 1 == 180
    # p > 0 = east side higher = faces west(-ish toward the 315-deg sun)
    p = np.array([40, -40, 6, -300])
    q = np.array([40, -40, 6, -300])
    r, v = _shade_v(p, q)
    assert v[0] > flat[0] > v[1]          # toward sun > flat > away
    assert v[3] == 0 and r[3] <= 0.0      # steep away-facing: shadowed
    # normal incidence peaks at p = q = 4*sqrt(2) ~ 5.66 (45-deg sun):
    # the near-optimal slope outshines both flat ground and steep slopes
    assert v[2] > v[0] and v[2] >= 254
    pr = np.arange(-1020, 1021, dtype=np.int64)
    pp, qq = np.meshgrid(pr[::7], pr[::7])
    _, vv = _shade_v(pp.ravel(), qq.ravel())
    assert vv.min() >= 0 and vv.max() <= 255


def test_hillshade_payload_never_shuffles(spark):
    from versatiles_rs_spark.operators.focal import hillshade_stats

    tiles = fixtures.dem_raster_df(spark, zoom=1, partitions=2)
    plan = hillshade_stats(tiles)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "bytes#" not in line, f"payload in shuffle: {line.strip()[:140]}"


# ---------------------------------------------------------------------------
# Multidirectional (MDOW) hillshade
# ---------------------------------------------------------------------------

def _global_mdow(n_px_side: int, tile_size: int = 256):
    """Independent ground truth: Horn p/q by explicit slicing, shade via
    the documented four-lamp blend (re-derived here, not _mdow_shade)."""
    gx = np.arange(n_px_side, dtype=np.int64)
    v = dem_value(gx[None, :], gx[:, None])
    c = lambda dr, dc: v[1 + dr : n_px_side - 1 + dr, 1 + dc : n_px_side - 1 + dc]
    nw, n_, ne = c(-1, -1), c(-1, 0), c(-1, 1)
    w_, e_ = c(0, -1), c(0, 1)
    sw, s_, se = c(1, -1), c(1, 0), c(1, 1)
    p = (ne + 2 * e_ + se) - (nw + 2 * w_ + sw)
    q = (sw + 2 * s_ + se) - (nw + 2 * n_ + ne)
    C2 = np.sqrt(np.float64(2.0)) / 2.0
    sq = np.sqrt((p * p + q * q + 64).astype(np.float64))
    lamp = lambda m: np.maximum(C2 * (m + 8.0) / sq, 0.0)
    acc = (
        ((p + q) ** 2).astype(np.float64) * lamp((p - q).astype(np.float64) * C2)
        + (2 * q * q).astype(np.float64) * lamp(p.astype(np.float64))
    )
    acc = acc + ((p - q) ** 2).astype(np.float64) * lamp((p + q).astype(np.float64) * C2)
    acc = acc + (2 * p * p).astype(np.float64) * lamp(q.astype(np.float64))
    flat = (p == 0) & (q == 0)
    shade = np.where(flat, C2, acc / np.where(flat, 1.0, (4 * (p * p + q * q)).astype(np.float64)))
    sv = np.minimum(np.floor(254.0 * shade) + 1, 255).astype(np.int64)
    n_tiles = n_px_side // tile_size
    out = {}
    for ty in range(n_tiles):
        for tx in range(n_tiles):
            r0 = max(ty * tile_size, 1)
            r1 = min((ty + 1) * tile_size, n_px_side - 1)
            c0 = max(tx * tile_size, 1)
            c1 = min((tx + 1) * tile_size, n_px_side - 1)
            sub = lambda a: a[r0 - 1 : r1 - 1, c0 - 1 : c1 - 1]
            s, fl = sub(sv), sub(flat)
            out[(tx, ty)] = [s.size, int(s.sum()), int(fl.sum()),
                             int(s.max()) if s.size else -1]
    return out


def test_mdow_distributed_matches_global(spark):
    from versatiles_rs_spark.operators.focal import mdow_hillshade_stats

    tiles = fixtures.dem_raster_df(spark, zoom=2, partitions=8)
    got = {
        (r["x"], r["y"]): [r[k] for k in ["n_px", "sum_shade", "n_flat", "max_shade"]]
        for r in mdow_hillshade_stats(tiles).collect()
    }
    assert got == _global_mdow(1024)


def test_mdow_laws():
    """Flat ground = the 45-deg flat cosine (180, same as single-lamp).
    The sin^2 weighting ZEROES the aspect-aligned lamp (Mark 1992's
    cross-lighting design), so only GENTLE toward-sun slopes outshine
    flat — steep ones are carried by the perpendicular/opposite lamps
    and dim BELOW flat without ever washing to 0; mirrors stay ordered;
    weights partition (the sin^2 identity)."""
    from versatiles_rs_spark.operators.focal import _mdow_shade

    flat = _mdow_shade(np.array([0]), np.array([0]))
    assert flat[0] == 180
    pq = np.array([2, -2, 40, -40, 300, -300])
    v = _mdow_shade(pq, pq)
    assert v[0] > flat[0] > v[1]          # gentle NW > flat > gentle SE
    assert v[2] < flat[0] and v[2] > v[3]  # steep: both dim, order holds
    assert v[4] > v[5] >= 1               # never 0 — residual cross light
    # weight identity: W225 + W270 + W315 + W360 == 4*(p^2+q^2) exactly
    rng = np.random.default_rng(3)
    pp = rng.integers(-1020, 1021, 4096)
    qq = rng.integers(-1020, 1021, 4096)
    tot = (pp + qq) ** 2 + 2 * qq * qq + (pp - qq) ** 2 + 2 * pp * pp
    assert (tot == 4 * (pp * pp + qq * qq)).all()


# ---------------------------------------------------------------------------
# Variance-of-Laplacian sharpness (blur gate)
# ---------------------------------------------------------------------------

def _global_sharpness(n_px_side: int, tile_size: int = 256):
    """Independent ground truth: 5-point Laplacian by explicit slicing,
    exact per-tile moments."""
    gx = np.arange(n_px_side, dtype=np.int64)
    v = dem_value(gx[None, :], gx[:, None])
    c = lambda dr, dc: v[1 + dr : n_px_side - 1 + dr, 1 + dc : n_px_side - 1 + dc]
    lap = (c(0, -1) + c(0, 1) + c(-1, 0) + c(1, 0)) - 4 * c(0, 0)
    n_tiles = n_px_side // tile_size
    out = {}
    for ty in range(n_tiles):
        for tx in range(n_tiles):
            r0 = max(ty * tile_size, 1)
            r1 = min((ty + 1) * tile_size, n_px_side - 1)
            c0 = max(tx * tile_size, 1)
            c1 = min((tx + 1) * tile_size, n_px_side - 1)
            s = lap[r0 - 1 : r1 - 1, c0 - 1 : c1 - 1]
            out[(tx, ty)] = [s.size, int(s.sum()), int((s * s).sum()),
                             int(np.abs(s).max()) if s.size else -1]
    return out


def test_sharpness_distributed_matches_global(spark):
    from versatiles_rs_spark.operators.focal import sharpness_stats

    tiles = fixtures.dem_raster_df(spark, zoom=2, partitions=8)
    got = {
        (r["x"], r["y"]): [r[k] for k in ["n_px", "sum_lap", "sum_lap2", "max_abs_lap"]]
        for r in sharpness_stats(tiles).collect()
    }
    assert got == _global_sharpness(1024)


def test_sharpness_blur_law():
    """The gate's reason to exist: box-blurring a texture strictly drops
    its variance-of-Laplacian; a constant image scores exactly 0; the
    variance numerator is non-negative (Cauchy-Schwarz) everywhere."""
    from versatiles_rs_spark.operators.focal import _sharpness_partial_row

    def var_num(arr):
        pad = np.full((arr.shape[0] + 2, arr.shape[1] + 2), -1, dtype=np.int64)
        pad[1:-1, 1:-1] = arr
        c = lambda dr, dc: pad[1 + dr : -1 + dr or None, 1 + dc : -1 + dc or None]
        lap = (c(0, -1) + c(0, 1) + c(-1, 0) + c(1, 0)) - 4 * c(0, 0)
        lap = lap[1:-1, 1:-1]  # full-support interior
        n = lap.size
        return n * int((lap * lap).sum()) - int(lap.sum()) ** 2

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(64, 64)).astype(np.int64)
    sharp = var_num(img)
    # 3x3 box blur (integer mean)
    k = np.zeros_like(img)
    acc = np.zeros_like(img)
    for dr in (-1, 0, 1):
        for dc in (-1, 0, 1):
            acc[1:-1, 1:-1] += img[1 + dr : 63 + dr, 1 + dc : 63 + dc]
    blur = img.copy()
    blur[1:-1, 1:-1] = acc[1:-1, 1:-1] // 9
    assert var_num(blur) < sharp // 4
    assert var_num(np.full((64, 64), 77, dtype=np.int64)) == 0
    assert sharp >= 0 and var_num(blur) >= 0


def test_d8_basins_driver_matches_relational(spark, force_distributed):
    """The guarded driver doubling (default) and the forced relational
    rounds (force_distributed) are bit-identical — same schedule, same
    off-raster freeze — in both fixed-rounds and fixpoint modes."""
    pixels = focal_terrain_pixels(
        fixtures.dem_raster_df(spark, zoom=0, partitions=1)
    ).cache()
    try:
        succ = d8_successors(pixels)
        for rounds in (6, None):
            drv = sorted(map(tuple, d8_basins(succ, rounds=rounds).collect()))
            with force_distributed() as refused:
                rel = sorted(map(tuple, d8_basins(succ, rounds=rounds).collect()))
            assert refused == ["d8_basins"]
            assert drv == rel
    finally:
        pixels.unpersist()
