"""D8 flow accumulation (operators/hydro.py).

Ground truth is the single-global-array evaluation: level-synchronous
accumulation over the whole mosaic as one numpy grid.  The two-phase
distributed solve (local super-tile accumulation + border-graph Jacobi +
inflow injection) must reproduce it bit for bit, across super-tile sizes
and across a worst-case DEM whose flow crosses every tile boundary."""
import numpy as np
import pytest

from versatiles_rs_spark import fixtures, guard
from versatiles_rs_spark.codecs import encode_png
from versatiles_rs_spark.fixtures import dem_value
from versatiles_rs_spark.operators.focal import terrain_fields
from versatiles_rs_spark.operators.hydro import _DXL, _DYL, flow_accumulation


def global_accumulation(
    v: np.ndarray, weight_fn=None, combine: str = "sum", flats=None
) -> tuple[np.ndarray, np.ndarray]:
    """Exact accumulation over the full mosaic: (acc, valid) indexed so
    field (i, j) is global pixel (gx=j+1, gy=i+1).  `flats` (the
    global_resolve_flats dict) overrides flat-cell directions; the sweep
    order is then the (elevation, flat-distance) lexicographic key."""
    f = terrain_fields(v)
    valid, d8 = f["valid"], f["d8"]
    h = v.shape[0] - 2
    elev = v[1:-1, 1:-1]
    dist = np.zeros((h, h), dtype=np.int64)
    if flats:
        d8 = d8.copy()
        for (gx, gy), (dd, code) in flats.items():
            if code > 0:
                assert d8[gy - 1, gx - 1] == 0
                d8[gy - 1, gx - 1] = code
                dist[gy - 1, gx - 1] = dd
    rr, cc = np.meshgrid(np.arange(h), np.arange(h), indexing="ij")
    tr, tc = rr + _DYL[d8], cc + _DXL[d8]
    in_u = (tr >= 0) & (tr < h) & (tc >= 0) & (tc < h)
    internal = valid & (d8 > 0) & in_u & valid[tr.clip(0, h - 1), tc.clip(0, h - 1)]
    acc = (
        valid.astype(np.int64)
        if weight_fn is None
        else np.where(valid, weight_fn(elev), np.int64(0)).astype(np.int64)
    )
    okey = elev * (int(dist.max()) + 1) + dist
    scatter = np.add.at if combine == "sum" else np.maximum.at
    for lev in np.unique(okey[valid])[::-1]:
        m = internal & (okey == lev)
        if m.any():
            scatter(acc, (tr[m], tc[m]), acc[m])
    return acc, valid


def dem_mosaic(n: int) -> np.ndarray:
    g = np.arange(n, dtype=np.int64)
    return dem_value(g[None, :], g[:, None])


def as_grid(pdf, shape) -> np.ndarray:
    got = np.zeros(shape, dtype=np.int64)
    got[pdf["gy"].to_numpy() - 1, pdf["gx"].to_numpy() - 1] = pdf["acc"].to_numpy()
    return got


@pytest.mark.parametrize("zoom,s", [(1, 1), (1, 2)])
def test_flow_accumulation_matches_global(spark, zoom, s):
    """Distributed two-phase == global array on the DEM fixture, both
    with a real coarse graph (S=1: 4 super-tiles) and degenerate
    single-super-tile (S=2: phase A emits no cross edges at all)."""
    n = (1 << zoom) * 256
    exp, valid = global_accumulation(dem_mosaic(n))
    with guard.recording() as rec:
        pdf = flow_accumulation(
            fixtures.dem_raster_df(spark, zoom=zoom, partitions=4),
            super_tiles=s,
        ).toPandas()
    assert len(pdf) == int(valid.sum())
    np.testing.assert_array_equal(as_grid(pdf, exp.shape), exp * valid)
    m = rec["flow_accumulation"]
    if s == 2:
        assert m["rounds"] == 0 and m["inflow_total"] == 0
    else:
        assert m["inflow_total"] > 0


def ramp_tiles_df(spark, n: int, ts: int):
    """Worst-case DEM for the coarse solve: elevation n-1-gx, so every
    pixel flows due EAST and the longest path crosses EVERY vertical
    tile boundary — multi-hop border-graph relaxation is unavoidable."""
    rows = []
    for ty in range(n // ts):
        for tx in range(n // ts):
            gx = np.arange(tx * ts, (tx + 1) * ts, dtype=np.int64)
            v = np.broadcast_to(n - 1 - gx[None, :], (ts, ts)).astype(np.uint8)
            rows.append((tx, ty, encode_png(np.ascontiguousarray(v)[:, :, None])))
    return spark.createDataFrame(rows, "x long, y long, bytes binary")


def test_flow_accumulation_multihop_ramp(spark, force_distributed):
    """On the eastward ramp, acc(gx, gy) == gx exactly (the whole row
    upstream plus self), and the Jacobi relaxation needs >= 2 rounds —
    flow at gx=62 accumulated across three super-tile crossings."""
    n, ts = 64, 16
    # the relational rounds this test pins
    with guard.recording() as rec, force_distributed():
        pdf = flow_accumulation(
            ramp_tiles_df(spark, n, ts), tile_size=ts, super_tiles=1,
        ).toPandas()
    assert len(pdf) == (n - 2) * (n - 2)
    assert (pdf["acc"].to_numpy() == pdf["gx"].to_numpy()).all()
    assert rec["flow_accumulation"]["rounds"] >= 2
    # default guarded-driver path: identical values, zero coarse rounds
    drv = flow_accumulation(
        ramp_tiles_df(spark, n, ts), tile_size=ts, super_tiles=1
    ).toPandas()
    assert (drv["acc"].to_numpy() == drv["gx"].to_numpy()).all()


@pytest.mark.parametrize("s", [1, 2])
def test_flow_accumulation_max_semiring(spark, s):
    """combine="max" with weight_fn=elev+1: each pixel's value is the
    PEAK source elevation (+1) anywhere upstream of it, self included.
    Checked against the global max-scatter ground truth, both with a
    real coarse graph (S=1) and the degenerate single super-tile."""
    n = 512
    wf = lambda e: e + 1  # noqa: E731
    exp, valid = global_accumulation(dem_mosaic(n), weight_fn=wf, combine="max")
    pdf = flow_accumulation(
        fixtures.dem_raster_df(spark, zoom=1, partitions=4),
        super_tiles=s,
        weight_fn=wf,
        combine="max",
    ).toPandas()
    assert len(pdf) == int(valid.sum())
    np.testing.assert_array_equal(as_grid(pdf, exp.shape), exp * valid)


def test_flow_accumulation_max_multihop_ramp(spark, force_distributed):
    """Max mode on the eastward ramp: elevation is n-1-gx, every cell
    flows east, so the upstream peak at every (gx, gy) is the westmost
    universe cell's elevation n-2 — a value that must survive 3
    super-tile crossings and >= 2 coarse max-relaxation rounds."""
    n, ts = 64, 16
    # the relational rounds this test pins
    with guard.recording() as rec, force_distributed():
        pdf = flow_accumulation(
            ramp_tiles_df(spark, n, ts),
            tile_size=ts,
            super_tiles=1,
            weight_fn=lambda e: e,
            combine="max",
        ).toPandas()
    assert len(pdf) == (n - 2) * (n - 2)
    assert (pdf["acc"].to_numpy() == n - 2).all()
    assert rec["flow_accumulation"]["rounds"] >= 2
    # default guarded-driver Kahn path: identical max-semiring values
    drv = flow_accumulation(
        ramp_tiles_df(spark, n, ts), tile_size=ts, super_tiles=1,
        weight_fn=lambda e: e, combine="max",
    ).toPandas()
    assert (drv["acc"].to_numpy() == n - 2).all()


def test_flow_accumulation_min_accum_threshold(spark):
    """min_accum extracts the stream network: exactly the pixels whose
    full accumulation clears the threshold, values unchanged."""
    n = 512
    exp, valid = global_accumulation(dem_mosaic(n))
    t = 50
    pdf = flow_accumulation(
        fixtures.dem_raster_df(spark, zoom=1, partitions=4), min_accum=t
    ).toPandas()
    exp_mask = valid & (exp >= t)
    assert len(pdf) == int(exp_mask.sum())
    assert (pdf["acc"].to_numpy() >= t).all()
    got = {(x, y): a for x, y, a in zip(pdf["gx"], pdf["gy"], pdf["acc"])}
    r, c = np.nonzero(exp_mask)
    assert all(got[(int(j + 1), int(i + 1))] == int(exp[i, j]) for i, j in zip(r, c))


def global_strahler(v: np.ndarray, min_accum: int) -> dict[tuple[int, int], int]:
    """Sequential Strahler over the full mosaic: streams = acc >=
    min_accum; process channel cells in strictly descending elevation
    (D8 follows strict drops, so predecessors always come first); head =
    1, junction = max(incoming) + (count at max >= 2).  Keys are field
    coords (i, j) -> global pixel (gx=j+1, gy=i+1)."""
    acc, valid = global_accumulation(v)
    f = terrain_fields(v)
    d8 = f["d8"]
    h = v.shape[0] - 2
    elev = v[1:-1, 1:-1]
    rr, cc = np.meshgrid(np.arange(h), np.arange(h), indexing="ij")
    tr, tc = rr + _DYL[d8], cc + _DXL[d8]
    in_u = (tr >= 0) & (tr < h) & (tc >= 0) & (tc < h)
    stream = valid & (acc >= min_accum)
    tgt = stream & (d8 > 0) & in_u & stream[tr.clip(0, h - 1), tc.clip(0, h - 1)]
    incoming: dict[tuple[int, int], list[int]] = {}
    order: dict[tuple[int, int], int] = {}
    cells = sorted(zip(*np.nonzero(stream)), key=lambda p: -elev[p[0], p[1]])
    for r, c in cells:
        inc = incoming.get((r, c), [])
        if not inc:
            o = 1
        else:
            m = max(inc)
            o = m + (1 if inc.count(m) >= 2 else 0)
        order[(int(r), int(c))] = o
        if tgt[r, c]:
            incoming.setdefault((int(tr[r, c]), int(tc[r, c])), []).append(o)
    return order


def tree_strahler(k: int, mod: int, h: int = 2654435761) -> dict[int, int]:
    """Sequential Strahler on the hash-pruned heap tree (ids 1..2^k-1,
    drop (id*h) % mod == 0; succ = id // 2 when the parent survives).
    Heap numbering makes descending id a topological order."""
    ids = [i for i in range(1, 1 << k) if (i * h) % mod != 0]
    sset = set(ids)
    incoming: dict[int, list[int]] = {}
    order: dict[int, int] = {}
    for i in sorted(ids, reverse=True):
        inc = incoming.get(i, [])
        if not inc:
            o = 1
        else:
            m = max(inc)
            o = m + (1 if inc.count(m) >= 2 else 0)
        order[i] = o
        if i > 1 and i // 2 in sset:
            incoming.setdefault(i // 2, []).append(o)
    return order


def test_strahler_order_heap_tree(spark, force_distributed):
    """Deep junction nesting: the hash-pruned heap tree reaches order 9+
    — distributed segment contraction == sequential heap evaluation,
    and the junction relaxation needs multiple rounds."""
    import pyspark.sql.functions as F

    from versatiles_rs_spark.operators.hydro import strahler_order

    k, mod = 12, 7
    exp = tree_strahler(k, mod)
    ids = spark.range(1, 1 << k).select(F.col("id"))
    universe = ids.select(
        "id",
        F.when(F.col("id") == 1, F.col("id")).otherwise(F.expr("id div 2")).alias("succ"),
    )
    streams = ids.filter((F.col("id") * 2654435761) % mod != 0)
    with guard.recording() as rec:
        pdf = strahler_order(universe, streams).toPandas()
    got = dict(zip(pdf["id"].astype(int), pdf["strahler"].astype(int)))
    assert got == exp
    assert max(got.values()) >= 8
    m = rec["strahler_order"]
    assert m["path"] == "driver" and m["junctions"] > 100
    # distributed Jacobi fallback must agree exactly
    with guard.recording() as rec, force_distributed() as refused:
        pdf2 = strahler_order(universe, streams).toPandas()
    assert refused == ["d8_basins", "strahler_order"]
    got2 = dict(zip(pdf2["id"].astype(int), pdf2["strahler"].astype(int)))
    assert got2 == exp
    m2 = rec["strahler_order"]
    assert m2["path"] == "distributed" and m2["rounds"] >= 3


def test_strahler_order_matches_global_random_dem(spark):
    """DEM-derived path on a junction-rich random surface (~100 real
    confluences at threshold 4): the full composition — tiles -> border-
    exact pixels -> D8 graph -> accumulation-thresholded channels ->
    segment-contracted Strahler — equals the sequential descending-
    elevation evaluation, with super-tile crossings in play."""
    import pyspark.sql.functions as F

    from versatiles_rs_spark.operators.focal import d8_successors, focal_terrain_pixels
    from versatiles_rs_spark.operators.hydro import strahler_order

    n, ts, t = 128, 32, 4
    rng = np.random.default_rng(7)
    v = rng.integers(0, 50, size=(n, n)).astype(np.int64)
    exp = global_strahler(v, t)
    rows = []
    for ty in range(n // ts):
        for tx in range(n // ts):
            sub = v[ty * ts : (ty + 1) * ts, tx * ts : (tx + 1) * ts]
            rows.append(
                (tx, ty, encode_png(np.ascontiguousarray(sub).astype(np.uint8)[:, :, None]))
            )
    tiles = spark.createDataFrame(rows, "x long, y long, bytes binary")
    streams = flow_accumulation(
        tiles, tile_size=ts, super_tiles=1, min_accum=t
    ).select((F.col("gx") * F.lit(4294967296) + F.col("gy")).alias("id"))
    pixels = focal_terrain_pixels(tiles, tile_size=ts)
    with guard.recording() as rec:
        pdf = strahler_order(d8_successors(pixels), streams).toPandas()
    assert len(pdf) == len(exp)
    got = {
        (int(i % 4294967296) - 1, int(i // 4294967296) - 1): int(s)
        for i, s in zip(pdf["id"], pdf["strahler"])
    }
    assert got == exp
    assert rec["strahler_order"]["junctions"] > 50 and max(got.values()) >= 2


def test_strahler_order_junction_free_ramp(spark):
    """Degenerate network: the eastward ramp has straight parallel flow
    lines — no junctions, every channel cell order 1, zero relaxation
    rounds."""
    import pyspark.sql.functions as F

    from versatiles_rs_spark.operators.focal import d8_successors, focal_terrain_pixels
    from versatiles_rs_spark.operators.hydro import strahler_order

    n, ts, t = 64, 16, 8
    tiles = ramp_tiles_df(spark, n, ts)
    streams = flow_accumulation(
        tiles, tile_size=ts, super_tiles=1, min_accum=t
    ).select((F.col("gx") * F.lit(4294967296) + F.col("gy")).alias("id"))
    pixels = focal_terrain_pixels(tiles, tile_size=ts)
    with guard.recording() as rec:
        pdf = strahler_order(d8_successors(pixels), streams).toPandas()
    assert len(pdf) == (n - 2) * (n - 2 - (t - 1))  # cells with gx >= t
    assert (pdf["strahler"].to_numpy() == 1).all()
    # no junction edges: the driver solve, no relaxation rounds
    assert rec["strahler_order"] == {"path": "driver", "rows": 0, "junctions": 0}


def test_flow_accumulation_single_payload_exchange(spark):
    """Phase B's lazy plan (the returned DataFrame): the tile payload
    crosses exactly ONE Exchange (the super-tile groupBy), and nothing
    degenerates to a cartesian product.  Phase A runs eagerly inside the
    operator with the same relation shape."""
    df = flow_accumulation(fixtures.dem_raster_df(spark, zoom=1, partitions=4))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    payload_exchanges = [
        line for line in plan.splitlines() if "Exchange" in line and "data#" in line
    ]
    assert len(payload_exchanges) <= 1, payload_exchanges


def global_priority_flood(v: np.ndarray) -> np.ndarray:
    """Ground truth depression fill: sequential Priority-Flood over the
    whole mosaic, ocean at the raster perimeter."""
    import heapq

    n = v.shape[0]
    big = 1 << 62
    z = np.full((n, n), big, dtype=np.int64)
    heap = []
    for r in range(n):
        cols = range(n) if r in (0, n - 1) else (0, n - 1)
        for c in cols:
            z[r, c] = v[r, c]
            heap.append((int(v[r, c]), r, c))
    heapq.heapify(heap)
    while heap:
        z0, r, c = heapq.heappop(heap)
        if z0 > z[r, c]:
            continue
        for nr in (r - 1, r, r + 1):
            if not (0 <= nr < n):
                continue
            for nc in (c - 1, c, c + 1):
                if not (0 <= nc < n) or (nr == r and nc == c):
                    continue
                zz = z0 if z0 > v[nr, nc] else int(v[nr, nc])
                if zz < z[nr, nc]:
                    z[nr, nc] = zz
                    heapq.heappush(heap, (zz, nr, nc))
    return z


def test_fill_depressions_matches_global_flood(spark):
    """Two-phase distributed fill == single global Priority-Flood, bit
    for bit, on the pitted fixture (pit A straddles all 4 tiles -> the
    cross-tile watershed merge is on the path), AND every pit lands on
    its ANALYTIC ring-spill level."""
    from versatiles_rs_spark.fixtures import (
        DEM_BOWLS,
        bowl_spill,
        dem_bowls_raster_df,
        dem_bowls_value,
    )
    from versatiles_rs_spark.operators.hydro import fill_depressions

    n = 512
    g = np.arange(n, dtype=np.int64)
    v = dem_bowls_value(g[None, :], g[:, None])
    exp = global_priority_flood(v)
    with guard.recording() as rec:
        pdf = fill_depressions(
            dem_bowls_raster_df(spark, partitions=4), super_tiles=1
        ).toPandas()
    assert len(pdf) == n * n
    got = np.zeros_like(exp)
    got[pdf["gy"].to_numpy(), pdf["gx"].to_numpy()] = pdf["filled"].to_numpy()
    np.testing.assert_array_equal(got, exp)
    m = rec["fill_depressions"]
    assert m["rows"] > 0 and m["nodes"] > 0
    for cx, cy, r, floor in DEM_BOWLS:
        pit = got[cy - r : cy + r + 1, cx - r : cx + r + 1]
        assert pit.min() == pit.max() == bowl_spill(cx, cy, r)
    # elevations round-trip too, and fill never lowers
    raw = np.zeros_like(exp)
    raw[pdf["gy"].to_numpy(), pdf["gx"].to_numpy()] = pdf["elev"].to_numpy()
    np.testing.assert_array_equal(raw, v)
    assert (got >= raw).all()


def test_fill_depressions_tiles_roundtrip(spark):
    """emit="tiles": the filled surface re-encodes as PNG tiles that
    decode back to exactly the pixel-mode output."""
    from versatiles_rs_spark.codecs import decode_image
    from versatiles_rs_spark.fixtures import dem_bowls_raster_df, dem_bowls_value
    from versatiles_rs_spark.operators.hydro import fill_depressions

    n = 512
    g = np.arange(n, dtype=np.int64)
    exp = global_priority_flood(dem_bowls_value(g[None, :], g[:, None]))
    rows = fill_depressions(
        dem_bowls_raster_df(spark, partitions=4), super_tiles=1, emit="tiles"
    ).collect()
    assert len(rows) == 4 and all(r["fmt"] == "png" for r in rows)
    for r in rows:
        img = decode_image(bytes(r["bytes"]))[:, :, 0].astype(np.int64)
        np.testing.assert_array_equal(
            img, exp[r["y"] * 256 : (r["y"] + 1) * 256, r["x"] * 256 : (r["x"] + 1) * 256]
        )


def test_fill_depressions_super_tile_degenerate(spark):
    """S=2 puts the whole zoom-1 world in one flood (no cross edges, no
    ocean-graph hops) — must equal the global truth as well."""
    from versatiles_rs_spark.fixtures import dem_bowls_raster_df, dem_bowls_value
    from versatiles_rs_spark.operators.hydro import fill_depressions

    n = 512
    g = np.arange(n, dtype=np.int64)
    exp = global_priority_flood(dem_bowls_value(g[None, :], g[:, None]))
    pdf = fill_depressions(
        dem_bowls_raster_df(spark, partitions=4), super_tiles=2
    ).toPandas()
    got = np.zeros_like(exp)
    got[pdf["gy"].to_numpy(), pdf["gx"].to_numpy()] = pdf["filled"].to_numpy()
    np.testing.assert_array_equal(got, exp)


def test_fill_depressions_over_guard_raises(spark, force_distributed):
    """fill_depressions has no distributed spill solve (one-hop rounds
    are the wrong shape, see the operator): a watershed graph over the
    guard raises and points at super_tiles instead of collecting it."""
    from versatiles_rs_spark.fixtures import dem_bowls_raster_df
    from versatiles_rs_spark.operators.hydro import fill_depressions

    with force_distributed() as refused:
        with pytest.raises(ValueError, match="raise super_tiles"):
            fill_depressions(dem_bowls_raster_df(spark, partitions=4), super_tiles=2)
    assert refused == ["fill_depressions"]


def test_hand_matches_numpy_first_contact(spark):
    """HAND == elev - elev(first stream pixel on the sequential walk),
    zoom 0, and is never negative (water flows downhill to the contact)."""
    from versatiles_rs_spark.operators.focal import (
        _ID_BASE,
        d8_successors,
        focal_terrain_pixels,
        terrain_fields,
        watershed_membership,
    )
    from pyspark.sql import functions as F

    n = 256
    v = dem_mosaic(n)
    acc, valid = global_accumulation(v)
    t = 32
    streams_np = valid & (acc >= t)
    f = terrain_fields(v)
    d8 = f["d8"]
    h = n - 2
    dx = _DXL[d8]
    dy = _DYL[d8]
    elev = v[1:-1, 1:-1]
    exp: dict[int, int] = {}
    for i in range(h):
        for j in range(h):
            if not valid[i, j]:
                continue
            ci, cj = i, j
            for _ in range(4 * h):
                if streams_np[ci, cj]:
                    exp[(j + 1) * _ID_BASE + (i + 1)] = int(elev[i, j] - elev[ci, cj])
                    break
                ndi, ndj = int(dy[ci, cj]), int(dx[ci, cj])
                if ndi == 0 and ndj == 0:
                    break
                ni, nj = ci + ndi, cj + ndj
                if not (0 <= ni < h and 0 <= nj < h) or not valid[ni, nj]:
                    break
                ci, cj = ni, nj
    tiles = fixtures.dem_raster_df(spark, zoom=0, partitions=1)
    streams = flow_accumulation(tiles, min_accum=t).select(
        (F.col("gx") * F.lit(_ID_BASE) + F.col("gy")).alias("id")
    )
    pixels = focal_terrain_pixels(tiles).localCheckpoint()
    members = watershed_membership(
        d8_successors(pixels), streams, rounds=6, broadcast_outlets=False
    )
    elev_df = pixels.select(
        (F.col("gx") * F.lit(_ID_BASE) + F.col("gy")).alias("eid"), "elev"
    )
    rows = (
        members.join(elev_df, members.id == F.col("eid"))
        .withColumnRenamed("elev", "own")
        .drop("eid")
        .join(
            elev_df.select(F.col("eid").alias("oid"), F.col("elev").alias("drain")),
            members.outlet == F.col("oid"),
        )
        .select("id", (F.col("own") - F.col("drain")).alias("hand"))
        .collect()
    )
    got = {r["id"]: r["hand"] for r in rows}
    assert got == exp
    assert all(hv >= 0 for hv in got.values())
    assert sum(1 for hv in got.values() if hv == 0) >= int(streams_np.sum())


def global_resolve_flats(v: np.ndarray):
    """Ground truth flat resolution: multi-source BFS over the whole
    mosaic.  For every flat cell (valid, d8 == 0): dist = BFS distance
    (8-adjacent, equal elevation, through flat cells) to the nearest
    equal-elevation draining cell; d8 = lowest-ESRI-code neighbor with
    equal elevation and dist exactly one less (sources count as dist 0).
    Unreachable flats stay (-1, 0).  Returns {(gx, gy): (dist, d8)}."""
    from collections import deque

    from versatiles_rs_spark.operators.focal import _D8_DELTA

    f = terrain_fields(v)
    valid, d8 = f["valid"], f["d8"]
    h = v.shape[0] - 2
    elev = v[1:-1, 1:-1]
    flat = valid & (d8 == 0)
    drains = valid & (d8 > 0)
    big = 1 << 40
    dist = np.full((h, h), big, dtype=np.int64)
    dq = deque()
    for r, c in zip(*np.nonzero(flat)):
        e0 = elev[r, c]
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                rr, cc = r + dy, c + dx
                if 0 <= rr < h and 0 <= cc < h and drains[rr, cc] and elev[rr, cc] == e0:
                    dist[r, c] = 1
                    dq.append((r, c))
                    break
            if dist[r, c] == 1:
                break
    while dq:
        r, c = dq.popleft()
        d0, e0 = dist[r, c], elev[r, c]
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                rr, cc = r + dy, c + dx
                if (
                    0 <= rr < h and 0 <= cc < h and flat[rr, cc]
                    and elev[rr, cc] == e0 and d0 + 1 < dist[rr, cc]
                ):
                    dist[rr, cc] = d0 + 1
                    dq.append((rr, cc))
    out = {}
    for r, c in zip(*np.nonzero(flat)):
        d0, e0 = int(dist[r, c]), int(elev[r, c])
        if d0 >= big:
            out[(c + 1, r + 1)] = (-1, 0)
            continue
        code = 0
        for cand, (dx, dy) in sorted(_D8_DELTA.items()):
            rr, cc = r + dy, c + dx
            if not (0 <= rr < h and 0 <= cc < h) or elev[rr, cc] != e0:
                continue
            nd = 0 if (d0 == 1 and drains[rr, cc]) else (
                int(dist[rr, cc]) if flat[rr, cc] else big
            )
            if nd == d0 - 1:
                code = cand
                break
        assert code > 0, (c + 1, r + 1)
        out[(c + 1, r + 1)] = (d0, code)
    return out


def _resolve_flats_check(spark, v: np.ndarray, ts: int, s: int):
    from test_hydro_fuzz import dem_to_tiles
    from versatiles_rs_spark.operators.hydro import resolve_flats

    exp = global_resolve_flats(v)
    with guard.recording() as rec:
        pdf = resolve_flats(
            dem_to_tiles(spark, v, ts), tile_size=ts, super_tiles=s
        ).toPandas()
    got = {
        (int(r.gx), int(r.gy)): (int(r.dist), int(r.d8))
        for r in pdf.itertuples()
    }
    assert got == exp
    return rec["resolve_flats"]


def test_resolve_flats_terraced_ramp(spark):
    """Terraced eastward ramp (elev = (n-1-gx) // 8): every flat cell
    resolves east toward its terrace edge; dist is the in-terrace offset."""
    n, ts = 64, 16
    g = np.arange(n, dtype=np.int64)
    v = np.broadcast_to((n - 1 - g)[None, :] // 8, (n, n)).copy()
    m = _resolve_flats_check(spark, v, ts, 1)
    assert m["rounds"] >= 1
    # direction sanity: resolved flats on a pure east ramp flow east (1)
    from test_hydro_fuzz import dem_to_tiles
    from versatiles_rs_spark.operators.hydro import resolve_flats

    pdf = resolve_flats(dem_to_tiles(spark, v, ts), tile_size=ts, super_tiles=1).toPandas()
    resolved = pdf[pdf["dist"] > 0]
    assert len(resolved) > 0 and (resolved["d8"] == 1).all()


def test_resolve_flats_unreachable_pit_bottom(spark):
    """A flat-bottomed PIT (every bottom cell flat, no equal-elevation
    draining cell anywhere in the flat) stays (dist -1, d8 0) — unfilled
    depressions remain sinks, as in GDAL.  A raised plateau, by contrast,
    drains via its edge cells and must resolve to finite dists."""
    n, ts = 32, 16
    v = np.full((n, n), 5, dtype=np.int64)
    v[8:24, 8:24] = 0  # flat-bottomed depression: walls strictly higher
    exp = global_resolve_flats(v)
    # pit-bottom interior: unreachable in the oracle too
    assert exp[(12, 12)] == (-1, 0)
    _resolve_flats_check(spark, v, ts, 1)


def test_resolve_flats_filled_lake_drains(spark):
    """fill_depressions -> resolve_flats composition: a filled bowl is a
    flat lake at spill level; after resolution EVERY lake cell gets a
    finite dist and a direction (the lake drains through its spill)."""
    from versatiles_rs_spark.operators.hydro import fill_depressions, resolve_flats

    n, ts = 64, 16
    # bowl: base ramp + deep square depression spanning a tile border
    g = np.arange(n, dtype=np.int64)
    v = (g[None, :] // 4 + g[:, None] // 8 + 40).astype(np.int64)
    v[20:44, 20:44] = 3  # pit well below its rim, across tile (1,1)-(2,2)
    v = np.broadcast_to(v, (n, n)).copy()
    from test_hydro_fuzz import dem_to_tiles

    tiles = fill_depressions(
        dem_to_tiles(spark, v, ts), tile_size=ts, super_tiles=1, emit="tiles"
    ).select("x", "y", "bytes").localCheckpoint()
    filled = global_priority_flood(v)
    exp = global_resolve_flats(filled)
    pdf = resolve_flats(tiles, tile_size=ts, super_tiles=1).toPandas()
    got = {
        (int(r.gx), int(r.gy)): (int(r.dist), int(r.d8))
        for r in pdf.itertuples()
    }
    assert got == exp
    # every lake-interior flat cell drains (finite dist, real direction)
    lake = [
        (gx, gy) for (gx, gy) in got
        if 21 <= gx < 43 and 21 <= gy < 43
    ]
    assert len(lake) > 100
    assert all(got[k][0] > 0 and got[k][1] > 0 for k in lake)


def test_flow_accumulation_with_resolved_flats(spark):
    """fill -> resolve -> accumulate (the TauDEM chain): distributed
    accumulation with d8_override == global oracle with flat directions
    applied, and the lake actually DRAINS — the spill region's
    accumulation swallows the whole pit's contributing area, where the
    unresolved surface stranded it in the flat."""
    from test_hydro_fuzz import dem_to_tiles
    from versatiles_rs_spark.operators.hydro import fill_depressions, resolve_flats

    n, ts = 64, 16
    g = np.arange(n, dtype=np.int64)
    v = (g[None, :] // 4 + g[:, None] // 8 + 40).astype(np.int64)
    v = np.broadcast_to(v, (n, n)).copy()
    v[20:44, 20:44] = 3  # pit across super-tile borders
    filled_tiles = fill_depressions(
        dem_to_tiles(spark, v, ts), tile_size=ts, super_tiles=1, emit="tiles"
    ).select("x", "y", "bytes").localCheckpoint()
    filled = global_priority_flood(v)
    flats = global_resolve_flats(filled)
    exp, valid = global_accumulation(filled, flats=flats)
    resolved = resolve_flats(filled_tiles, tile_size=ts, super_tiles=1)
    pdf = flow_accumulation(
        filled_tiles, tile_size=ts, super_tiles=1, d8_override=resolved,
    ).toPandas()
    assert len(pdf) == int(valid.sum())
    np.testing.assert_array_equal(as_grid(pdf, exp.shape), exp * valid)
    # the resolved lake drains: max accumulation anywhere in/at the lake
    # ring >= the lake's own cell count (every lake cell routes through
    # one spill neighborhood instead of dying in the flat)
    lake_cells = int((filled[21:43, 21:43] == filled[32, 32]).sum())
    lake_acc = exp[19:44, 19:44].max()
    assert lake_acc >= lake_cells
    # and WITHOUT the override the same surface strands the flat: no
    # cell in the lake region reaches that accumulation
    exp0, _ = global_accumulation(filled)
    assert exp0[19:44, 19:44].max() < lake_cells


def test_flow_accumulation_corner_exit_leaves_raster(spark):
    """Flow that ENTERS a super-tile and then exits diagonally into a
    foreign WORLD-RING pixel (no 3x3 support) leaves the raster — the
    forwarded coarse inflow must be dropped, not injected at the invalid
    pixel.  Regression: the initial exit partials were semi-filtered
    against real entries but the transfer-map-forwarded inflow was not,
    so this topology asserted in phase B."""
    from test_hydro_fuzz import dem_to_tiles

    n, ts = 32, 16
    v = np.full((n, n), 200, dtype=np.int64)
    x = np.arange(1, 16, dtype=np.int64)
    v[2, 1:16] = 100 - x          # eastward chain along row 2, x=1..15
    v[1, 16] = 50                 # (16,1): entry of super-tile 1, via NE
    v[0, 15] = 0                  # world-ring corner: (16,1) exits NW
    exp, valid = global_accumulation(v)
    # (15,0) is world-ring: outside the interior field => non-universe
    with guard.recording() as rec:
        pdf = flow_accumulation(
            dem_to_tiles(spark, v, ts), tile_size=ts, super_tiles=1
        ).toPandas()
    assert len(pdf) == int(valid.sum())
    np.testing.assert_array_equal(as_grid(pdf, exp.shape), exp * valid)
    # the chain really crossed the border: (16,1) swallowed the whole
    # run (chain cells + plateau side inflows), >= the 15 chain cells
    got = {(int(r.gx), int(r.gy)): int(r.acc) for r in pdf.itertuples()}
    assert got[(16, 1)] == int(exp[0, 15]) and got[(16, 1)] > 15
    assert rec["flow_accumulation"]["inflow_total"] >= 15


def _floor_log2_ratio(p: int, q: int) -> int:
    """Exact floor(log2(p/q)) for positive ints — the python twin of
    hydro.floor_log2_ratio_sql (same two-branch identity)."""
    if p >= q:
        return (p // q).bit_length() - 1
    return -(((q - 1) // p).bit_length())


def test_floor_log2_ratio_identity_exhaustive():
    """Both branches of the bin()/length() integer-log identity against
    the Fraction ground truth over a dense p, q lattice (incl. exact
    powers of two, the classic off-by-one zone)."""
    from fractions import Fraction

    for p in list(range(1, 200)) + [2**40, 2**40 + 1, 2**62]:
        for q in list(range(1, 200)) + [2**40, 2**40 + 1, 2**62]:
            r = Fraction(p, q)
            k = _floor_log2_ratio(p, q)
            assert Fraction(2) ** k <= r < Fraction(2) ** (k + 1), (p, q, k)


def test_wetness_index_matches_global(spark):
    """TWI/SPI surfaces == brute force: full-mosaic terrain_fields score
    + global accumulation + exact integer log2, pixel for pixel."""
    from versatiles_rs_spark.operators.hydro import wetness_index

    zoom, n = 1, 512
    v = dem_mosaic(n)
    f = terrain_fields(v)
    acc, valid = global_accumulation(v)
    score = f["score"]

    tiles = fixtures.dem_raster_df(spark, zoom=zoom, partitions=4)
    got = wetness_index(tiles, tile_size=256, super_tiles=1).toPandas()
    assert len(got) == int(valid.sum())
    gxa = got["gx"].to_numpy() - 1
    gya = got["gy"].to_numpy() - 1
    assert np.array_equal(got["acc"].to_numpy(), acc[gya, gxa])
    assert np.array_equal(got["score"].to_numpy(), score[gya, gxa])
    exp_twi = np.array(
        [9999 if s <= 0 else _floor_log2_ratio(2 * a * a, s)
         for a, s in zip(acc[gya, gxa].tolist(), score[gya, gxa].tolist())],
        dtype=np.int64,
    )
    exp_spi = np.array(
        [-9999 if s <= 0 else _floor_log2_ratio(a * a * s, 2)
         for a, s in zip(acc[gya, gxa].tolist(), score[gya, gxa].tolist())],
        dtype=np.int64,
    )
    assert np.array_equal(got["twi_q"].to_numpy(), exp_twi)
    assert np.array_equal(got["spi_q"].to_numpy(), exp_spi)
    # the fixture DEM must exercise both log branches and the flat sentinel
    assert (exp_twi == 9999).any() or (score == 0).sum() == 0
    assert (got["twi_q"].to_numpy() != 9999).any()


def test_flow_accumulation_driver_coarse_matches_relational(spark, force_distributed):
    """The guarded driver Kahn accumulation over the coarse border graph
    (default) equals the forced relational relaxation rounds
    (force_distributed) — multi-hop ramp so the coarse solve is real."""
    n, ts = 512, 128
    tiles = ramp_tiles_df(spark, n, ts).cache()
    try:
        drv = flow_accumulation(tiles, tile_size=ts, super_tiles=1).toPandas()
        with force_distributed() as refused:
            rel = flow_accumulation(tiles, tile_size=ts, super_tiles=1).toPandas()
        assert refused == ["flow_accumulation"]
        a = drv.sort_values(["gx", "gy"]).reset_index(drop=True)
        b = rel.sort_values(["gx", "gy"]).reset_index(drop=True)
        assert a.equals(b)
    finally:
        tiles.unpersist()
