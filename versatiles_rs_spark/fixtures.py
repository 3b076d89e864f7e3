"""Deterministic synthetic fixtures (FIXTURES.md): images + polygons + props.

The `images` table has exactly the BASELINE.json input_hint shape:
(image_id string, bytes binary, w int, h int, fmt string, caption string,
phash bigint). lat/lng are NOT stored — they derive from phash bit-slices
(engine-side, vectorized), keeping the input table pure.

Pixel pattern mirrors the reference's gradient fixtures
(/root/reference/versatiles_pipeline/src/operations/raster/raster_overscale.rs:159-168):
pixel[y][x] = [x+i, y+i, 255-x] mod 256.

A designated hot cell receives ~20% of rows (i % 5 == 0) to exercise skew
handling (salting / AQE skew join).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .codecs import encode_image

IMAGES_SCHEMA = StructType(
    [
        StructField("image_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("w", IntegerType()),
        StructField("h", IntegerType()),
        StructField("fmt", StringType()),
        StructField("caption", StringType()),
        StructField("phash", LongType()),
    ]
)

_FMTS = ["png", "jpg", "webp"]
_WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()

# hot-cell skew fixture: i % 5 == 0 rows all land near this lon/lat
HOT_LON, HOT_LAT = 13.4, 52.5


def splitmix64(x: np.ndarray) -> np.ndarray:
    x = (np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def phash_for(i: np.ndarray) -> np.ndarray:
    return splitmix64(i).astype(np.int64)


def phash_to_lonlat(phash: np.ndarray, hot_mask: np.ndarray | None = None):
    """phash bit-slices -> uniform lon in [-180, 180), lat in ±85.0511.

    bits [0,26) -> lon, bits [26,52) -> lat (FIXTURES.md §1). Rows under
    hot_mask get jittered coordinates inside the hot cell instead.
    """
    p = np.asarray(phash).astype(np.uint64)
    lon = ((p & np.uint64((1 << 26) - 1)).astype(np.float64) / (1 << 26)) * 360.0 - 180.0
    latf = (((p >> np.uint64(26)) & np.uint64((1 << 26) - 1)).astype(np.float64) / (1 << 26))
    lat = latf * 170.10225755960318 - 85.05112877980159
    if hot_mask is not None:
        jit = (p >> np.uint64(52)).astype(np.float64) / (1 << 12)  # [0,1)
        lon = np.where(hot_mask, HOT_LON + jit * 0.01, lon)
        lat = np.where(hot_mask, HOT_LAT + jit * 0.01, lat)
    return lon, lat


def make_pixels(i: int, size: int = 64) -> np.ndarray:
    y, x = np.mgrid[0:size, 0:size]
    return np.stack([(x + i) % 256, (y + i) % 256, (255 - x) % 256], axis=-1).astype(np.uint8)


def make_pixels_batch(idx: np.ndarray, size: int = 64) -> np.ndarray:
    """Vectorized make_pixels for a whole batch: one (n, size, size, 3)
    uint8 allocation instead of n mgrid+stack calls.  All arithmetic stays
    uint8 — wrapping addition IS the % 256, and int64 broadcasting here
    costs 8x the memory bandwidth (measured 11x slower than the loop it
    was meant to replace).  Bit-identical rows."""
    y, x = np.mgrid[0:size, 0:size]
    x8 = x.astype(np.uint8)
    y8 = y.astype(np.uint8)
    i8 = (idx.astype(np.int64) % 256).astype(np.uint8)[:, None, None]
    out = np.empty((len(idx), size, size, 3), dtype=np.uint8)
    np.add(x8[None, :, :], i8, out=out[..., 0])
    np.add(y8[None, :, :], i8, out=out[..., 1])
    out[..., 2] = ((255 - x) % 256).astype(np.uint8)
    return out


def _caption(i: int) -> str:
    return f"caption {i} " + " ".join(_WORDS[(i + j) % len(_WORDS)] for j in range(3))


def images_pdf(n: int, size: int = 64, offset: int = 0) -> pd.DataFrame:
    """Driver-side generation for unit tests (small n)."""
    idx = np.arange(offset, offset + n, dtype=np.uint64)
    ph = phash_for(idx)
    pixels = make_pixels_batch(idx, size)
    rows = []
    for k, i in enumerate(idx):
        i = int(i)
        fmt = _FMTS[i % 3]
        rows.append(
            (
                f"img{i:012d}",
                encode_image(pixels[k], fmt),
                size,
                size,
                fmt,
                _caption(i),
                int(ph[k]),
            )
        )
    return pd.DataFrame(rows, columns=[f.name for f in IMAGES_SCHEMA.fields])


def images_df(spark: SparkSession, n: int, size: int = 64, partitions: int = 32) -> DataFrame:
    """Distributed generation: spark.range -> mapInPandas (scales to any n;
    no driver materialization — this is the from_debug analog,
    /root/reference/versatiles_pipeline/src/operations/read/from_debug/mod.rs:31-120).
    """

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield images_pdf(len(ids), size=size, offset=int(ids[0]))

    base = spark.range(0, n, 1, partitions)
    return base.mapInPandas(gen, schema=IMAGES_SCHEMA)


def images_with_tiles_df(
    spark: SparkSession,
    n: int,
    size: int = 64,
    zoom: int = 12,
    partitions: int = 64,
    skew: bool = True,
    target_fmt: str = "png",
    quality_table: dict | None = None,
    emit_bytes: bool = True,
    then=None,
    then_fields: str = "",
) -> DataFrame:
    """Fused single-pass pipeline stage: generate images, derive lon/lat from
    phash, assign (z,x,y), re-encode into the tile format, compute the Hilbert
    tile_id — all in ONE mapInPandas so image payloads cross the JVM<->Python
    Arrow boundary exactly once (the chained-operator version round-trips the
    payload per stage and is ~4x slower; see BENCH.md).

    At 100 TB this is the pattern that matters: payload-touching kernels are
    fused per-partition, and everything downstream (joins, aggs) runs on slim
    JVM-side columns.

    emit_bytes=False is manual column pruning THROUGH the UDF boundary (the
    one pruning Catalyst cannot do): consumers that only aggregate payload
    size (the flagship's sum(nbytes)) get a `nbytes` long column and the
    encoded blobs never cross Arrow back to the JVM — the encode still runs
    per row, only the ~KB payload transfer is elided. Sinks and container
    writers keep the default (they need the bytes).

    `then` (pdf -> pdf) runs on each encoded batch in the same task, as the
    stage's last step (the flagship's PIP probe); `then_fields` is the DDL
    of the columns it appends.
    """
    # default 90: measured floor for the BASELINE per-row invariant (PSNR >=
    # 40 dB) with the REAL webp codec on 16px lossy->lossy chains (q85 bottoms
    # out at 39.4 dB on the gradient fixtures; q90 at 40.6 dB)
    qt = quality_table or {"default": 90}

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if not len(ids):
                continue
            out = images_pdf(len(ids), size=size, offset=int(ids[0]))
            i = np.arange(int(ids[0]), int(ids[0]) + len(ids), dtype=np.int64)
            tiles = _derive_and_encode(out, i, zoom, skew, target_fmt, qt, emit_bytes)
            yield then(tiles) if then is not None else tiles

    return spark.range(0, n, 1, partitions).mapInPandas(
        gen, schema=tile_kernel_schema(emit_bytes, then_fields)
    )


def _derive_and_encode(
    out: pd.DataFrame,
    i: np.ndarray,
    zoom: int,
    skew: bool,
    target_fmt: str,
    qt: dict,
    emit_bytes: bool,
) -> pd.DataFrame:
    """Shared payload kernel: derive lon/lat from phash (+hot skew), assign
    (z,x,y) + Hilbert id, re-encode payload into the tile format. `out` is an
    IMAGES_SCHEMA batch; `i` its int64 record ids (drives the skew mask)."""
    from . import tile_math as tm
    from .codecs import decode_image, encode_image

    hot = (i % 5 == 0) if skew else None
    lon, lat = phash_to_lonlat(out["phash"].to_numpy(), hot)
    x, y = tm.lonlat_to_tile(lon, lat, zoom)
    z = np.full(len(i), zoom, dtype=np.int64)
    hil = tm.hilbert_index(z, x, y)
    q = qt.get(zoom, qt["default"])
    blobs = [
        encode_image(decode_image(bytes(b)), target_fmt, quality=q)
        for b in out["bytes"]
    ]
    cols = {
        "image_id": out["image_id"],
        "w": out["w"],
        "h": out["h"],
        "fmt": target_fmt,
        "caption": out["caption"],
        "phash": out["phash"],
        "lon": lon,
        "lat": lat,
        "z": z.astype(np.int32),
        "x": x,
        "y": y,
        "hilbert": hil,
    }
    if emit_bytes:
        cols["bytes"] = blobs
    else:
        cols["nbytes"] = np.array([len(b) for b in blobs], dtype=np.int64)
    return pd.DataFrame(cols)


def materialize_images(
    spark: SparkSession,
    n: int,
    size: int = 64,
    partitions: int = 128,
    cache_root: str | None = None,
) -> str:
    """Write the deterministic images table to parquet ONCE and return the
    path (content-keyed by (n, size, partitions) — safe to reuse).

    This is the SF-scaled sample of the north rule's Iceberg table: the
    flagship's deployment shape READS a stored table, it does not synthesize
    its input per run (BASELINE.json "10^12-image Iceberg table (SF-scaled
    sample)"). Stored-format encode is ingest cost, paid here once.
    """
    import os

    root = cache_root or os.environ.get("SPARK_GRAFT_CACHE", "/tmp/spark_graft_cache")
    path = os.path.join(root, f"images_n{n}_s{size}_p{partitions}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        images_df(spark, n, size=size, partitions=partitions).write.mode(
            "overwrite"
        ).parquet(path)
    return path


def tile_kernel_schema(emit_bytes: bool, then_fields: str = "") -> str:
    payload_field = "bytes binary" if emit_bytes else "nbytes long"
    extra = f", {then_fields}" if then_fields else ""
    return (
        "image_id string, w int, h int, fmt string, caption string, phash bigint, "
        f"lon double, lat double, z int, x long, y long, hilbert long, {payload_field}{extra}"
    )


def make_tile_kernel(
    zoom: int = 12,
    skew: bool = True,
    target_fmt: str = "jpg",
    quality_table: dict | None = None,
    emit_bytes: bool = False,
):
    """pdf -> pdf kernel over IMAGES_SCHEMA batches: decode stored format,
    re-encode into the tile format, attach lon/lat/(z,x,y)/Hilbert.  The
    scan-side half of pipeline.flagship_scan, run inside the pyarrow scan
    task (sources/arrow_scan.read_parquet_pythonside kernel=...)."""
    qt = quality_table or {"default": 90}

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        i = pdf["image_id"].str.slice(3).astype(np.int64).to_numpy()
        return _derive_and_encode(pdf, i, zoom, skew, target_fmt, qt, emit_bytes)

    return kernel


def polygons_pdf(n: int = 100) -> pd.DataFrame:
    """Deterministic polygon layer: boxes and L-shapes (holes for j%7==0).

    Rings as nested lists [[ [lon,lat], ... ]]; first ring outer, rest holes
    (even-odd). One polygon (j==0) exactly tile-aligned at z=9 to exercise
    the eps edge rule (tile_bbox/constructors.rs:258-266).
    """
    from . import tile_math as tm

    rows = []
    for j in range(n):
        h = int(splitmix64(np.array([j * 7919 + 13], dtype=np.uint64))[0])
        cx = (h & 0xFFFF) / 0xFFFF * 300.0 - 150.0
        cy = ((h >> 16) & 0xFFFF) / 0xFFFF * 120.0 - 60.0
        w = 4.0 + (h >> 32 & 0xFF) / 16.0
        ht = 3.0 + (h >> 40 & 0xFF) / 20.0
        if j == 0:
            # tile-aligned box: exact bounds of tiles [267..273]x[168..170] @ z9
            wst, _, _, nth = tm.tile_to_geo_bbox(9, 267, 168)
            _, sth, est, _ = tm.tile_to_geo_bbox(9, 273, 170)
            outer = [[wst, sth], [est, sth], [est, nth], [wst, nth], [wst, sth]]
            rings = [outer]
        elif j % 3 == 0:
            # L-shape
            rings = [
                [
                    [cx, cy],
                    [cx + w, cy],
                    [cx + w, cy + ht / 2],
                    [cx + w / 2, cy + ht / 2],
                    [cx + w / 2, cy + ht],
                    [cx, cy + ht],
                    [cx, cy],
                ]
            ]
        else:
            outer = [[cx, cy], [cx + w, cy], [cx + w, cy + ht], [cx, cy + ht], [cx, cy]]
            rings = [outer]
            if j % 7 == 0:  # hole
                hx, hy = cx + w / 4, cy + ht / 4
                rings.append(
                    [[hx, hy], [hx + w / 4, hy], [hx + w / 4, hy + ht / 4], [hx, hy + ht / 4], [hx, hy]]
                )
        # pure-python floats: plain (non-Arrow) createDataFrame rejects
        # numpy scalars inside nested arrays
        rings = [[[float(p[0]), float(p[1])] for p in ring] for ring in rings]
        rows.append((f"poly{j:06d}", rings, f"zone{j % 10}"))
    return pd.DataFrame(rows, columns=["poly_id", "rings", "zone"])


def polygons_df(spark: SparkSession, n: int = 100) -> DataFrame:
    schema = "poly_id string, rings array<array<array<double>>>, zone string"
    return spark.createDataFrame(polygons_pdf(n), schema=schema)


def zonal_value(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Deterministic per-pixel raster value at global pixel (gx, gy) —
    (7*gx + 13*gy) % 251. Non-periodic over 256-pixel tiles (251 prime),
    so tile boundaries can't mask indexing bugs; trivially replayable in
    SQL for the zonal-stats oracle."""
    return ((7 * gx + 13 * gy) % 251).astype(np.uint8)


def zonal_raster_df(spark: SparkSession, zoom: int = 3, partitions: int = 16) -> DataFrame:
    """Single-zoom raster tile table (x, y, bytes): REAL PNG tiles whose
    pixels follow zonal_value on the global pixel grid. Generated
    distributed (one task group per id range), 256x256 RGB."""
    n = 1 << zoom

    def gen(batches):
        from .codecs import encode_png

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                x, y = int(i) % n, int(i) // n
                gx = np.arange(x * 256, (x + 1) * 256, dtype=np.int64)
                gy = np.arange(y * 256, (y + 1) * 256, dtype=np.int64)
                v = zonal_value(gx[None, :], gy[:, None])
                img = np.stack([v, v, v], axis=-1)
                rows.append((x, y, encode_png(img)))
            yield pd.DataFrame(rows, columns=["x", "y", "bytes"])

    return (
        spark.range(n * n)
        .repartition(partitions)
        .mapInPandas(gen, schema="x long, y long, bytes binary")
    )


def dem_value(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Deterministic synthetic DEM elevation at global pixel (gx, gy),
    int64 in [0, 207]: two long-wavelength triangular ridge waves (period
    512 px along each axis) plus a short diagonal texture wave (period
    128 px along gx+2*gy), integer-exact so the SQL oracle can replay it
    with least()/%. Piecewise-linear => real ridges, valleys and four
    distinct hillshade facets; the //8 quantisation adds micro-terraces
    that exercise TRI/D8 tie-breaking."""
    tx = gx % 512
    tx = np.minimum(tx, 511 - tx)
    ty = gy % 512
    ty = np.minimum(ty, 511 - ty)
    td = (gx + 2 * gy) % 128
    td = np.minimum(td, 127 - td)
    return (3 * tx + 3 * ty + 2 * td) // 8


def dem_sql(gx_expr: str, gy_expr: str) -> str:
    """DuckDB replay of dem_value for arbitrary (pre-parenthesised by us)
    pixel-coordinate expressions. Operands are always >= 0 here so % and
    integer // agree across engines."""
    gx, gy = f"({gx_expr})", f"({gy_expr})"
    tx = f"least({gx} % 512, 511 - {gx} % 512)"
    ty = f"least({gy} % 512, 511 - {gy} % 512)"
    td = f"least(({gx} + 2 * {gy}) % 128, 127 - ({gx} + 2 * {gy}) % 128)"
    return f"((3 * {tx} + 3 * {ty} + 2 * {td}) // 8)"


# Flat-bottom pits carved into the monotone bowls base surface, fixed to
# the zoom-1 (512px) world: (cx, cy, chebyshev_radius, floor).  The base
# (gx + 2*gy) // 8 is monotone toward the NW border, so it is depression-
# free on its own, and each pit's TRUE fill level has a closed form: the
# minimax escape runs through the pit ring's minimum-base corner
# (cx-r-1, cy-r-1) and then monotonically downhill — the analytic truth
# the general Priority-Flood engine must reproduce.  Pit A straddles all
# four zoom-1 tiles (the cross-tile watershed-merge case).
DEM_BOWLS = [
    (256, 256, 20, 5),
    (100, 380, 10, 0),
    (400, 120, 15, 50),
]


def bowl_spill(cx: int, cy: int, r: int) -> int:
    """Closed-form fill level of a DEM_BOWLS pit: min base elevation on
    its chebyshev r+1 ring (the NW ring corner minimizes gx + 2*gy)."""
    return ((cx - r - 1) + 2 * (cy - r - 1)) // 8


def dem_bowls_value(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Deterministic pitted DEM at global pixel (gx, gy), int64 in
    [0, 191] at zoom 1: monotone base minus the DEM_BOWLS flat pits."""
    v = (gx + 2 * gy) // 8
    for cx, cy, r, floor in DEM_BOWLS:
        m = np.maximum(np.abs(gx - cx), np.abs(gy - cy)) <= r
        v = np.where(m, np.int64(floor), v)
    return v


def dem_bowls_sql(gx_expr: str, gy_expr: str, filled: bool = False) -> str:
    """DuckDB replay of dem_bowls_value; filled=True substitutes each
    pit's closed-form spill level — the analytic ground truth for
    depression filling (the base surface is depression-free, so it is
    its own fill)."""
    gx, gy = f"({gx_expr})", f"({gy_expr})"
    arms = []
    for cx, cy, r, floor in DEM_BOWLS:
        val = bowl_spill(cx, cy, r) if filled else floor
        assert bowl_spill(cx, cy, r) > floor, "pit floor must sit below its spill"
        arms.append(
            f"WHEN greatest(abs({gx} - {cx}), abs({gy} - {cy})) <= {r} THEN {val}"
        )
    return f"(CASE {' '.join(arms)} ELSE ({gx} + 2 * {gy}) // 8 END)"


def dem_bowls_raster_df(spark: SparkSession, partitions: int = 4) -> DataFrame:
    """Zoom-1 pitted-DEM tile table (x, y, bytes) following
    dem_bowls_value — the depression-filling fixture."""
    return _dem_tiles(spark, zoom=1, partitions=partitions, fn=dem_bowls_value)


TERRACE_STEP = 8


def dem_terrace_value(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Terraced eastward ramp fixed to the zoom-1 (512px) world: elev =
    (511 - gx) // TERRACE_STEP, int64 in [0, 63].  Every terrace is an
    8px-wide FLAT whose only spill is its eastern edge column (the one
    column with a strictly lower east neighbor), so flat resolution has
    a closed form — dist = (511 - gx) % 8, direction = East — and the
    flat-resolved flow accumulation is acc = gx for gx <= 504, else 1
    (the far-east terrace's spill column IS the world ring, so its flats
    are analytically unreachable and stay sinks; the drain column at
    gx = 503 still forwards into the sink cell at 504)."""
    return (511 - gx) // TERRACE_STEP + 0 * gy


def dem_terrace_raster_df(spark: SparkSession, partitions: int = 4) -> DataFrame:
    """Zoom-1 terraced-DEM tile table (x, y, bytes) following
    dem_terrace_value — the flat-resolution fixture."""
    return _dem_tiles(spark, zoom=1, partitions=partitions, fn=dem_terrace_value)


COST_WALL_X, COST_WALL_GAP = 300, 200


def cost_wall_value(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Uniform cost-2 surface fixed to the zoom-1 (512px) world with an
    impassable (value 255) full-height wall at gx = 300, pierced by a
    single gap cell at gy = 200.  Every geodesic to the east side must
    route through the gap, so cost distance has a closed form: octile
    metric (cardinal 20 = (2+2)*5, diagonal 28) on the west side, and
    dist(gap) + octile(gap, p) on the east — the analytic truth for the
    obstacle-routing behavior of the distributed Dijkstra."""
    wall = (gx == COST_WALL_X) & (gy != COST_WALL_GAP)
    return np.where(wall, np.int64(255), np.int64(2)) + 0 * (gx + gy)


def cost_wall_raster_df(spark: SparkSession, partitions: int = 4) -> DataFrame:
    """Zoom-1 cost-raster tile table (x, y, bytes) following
    cost_wall_value — the cost-distance fixture."""
    return _dem_tiles(spark, zoom=1, partitions=partitions, fn=cost_wall_value)


def dem_raster_df(spark: SparkSession, zoom: int = 3, partitions: int = 16) -> DataFrame:
    """Single-zoom DEM tile table (x, y, bytes): REAL 8-bit grayscale PNG
    tiles whose pixels follow dem_value on the global pixel grid —
    elevation stays in [0, 207] so uint8 is lossless. Generated
    distributed, 256x256, one PNG encode per tile."""
    return _dem_tiles(spark, zoom=zoom, partitions=partitions, fn=dem_value)


def landcover_value(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """Deterministic synthetic land-cover class at global pixel (gx, gy),
    int64 in [0, 4]: 64px macro blocks shifted by the diagonal texture
    wave — blocky patches with irregular diagonal borders, so class
    regions straddle tiles and every (elevation band x class) cell of
    the cross-tab is populated. All operands non-negative, so % and
    integer division agree between numpy, Spark and DuckDB."""
    return (gx // 64 + 2 * (gy // 64) + (gx + 2 * gy) // 128) % 5


def landcover_sql(gx_expr: str, gy_expr: str) -> str:
    """DuckDB replay of landcover_value (same non-negative // and %
    convention as dem_sql)."""
    gx, gy = f"({gx_expr})", f"({gy_expr})"
    return f"(({gx} // 64 + 2 * ({gy} // 64) + ({gx} + 2 * {gy}) // 128) % 5)"


def class_raster_df(spark: SparkSession, zoom: int = 1, partitions: int = 4) -> DataFrame:
    """Single-zoom two-band class raster (x, y, bytes): REAL RGB PNG
    tiles with band 0 = dem_value elevation and band 1 = landcover_value
    class — the cross-tabulation (ArcGIS Tabulate Area / GDAL Combine)
    fixture. One PNG encode per tile, generated distributed."""
    n = 1 << zoom

    def gen(batches):
        from .codecs import encode_png

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                x, y = int(i) % n, int(i) // n
                gx = np.arange(x * 256, (x + 1) * 256, dtype=np.int64)
                gy = np.arange(y * 256, (y + 1) * 256, dtype=np.int64)
                a = dem_value(gx[None, :], gy[:, None]).astype(np.uint8)
                b = landcover_value(gx[None, :], gy[:, None]).astype(np.uint8)
                img = np.stack([a, b, np.zeros_like(a)], axis=-1)
                rows.append((x, y, encode_png(img)))
            yield pd.DataFrame(rows, columns=["x", "y", "bytes"])

    return (
        spark.range(n * n)
        .repartition(partitions)
        .mapInPandas(gen, schema="x long, y long, bytes binary")
    )


def _dem_tiles(spark: SparkSession, zoom: int, partitions: int, fn) -> DataFrame:
    n = 1 << zoom

    def gen(batches):
        from .codecs import encode_png

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                x, y = int(i) % n, int(i) // n
                gx = np.arange(x * 256, (x + 1) * 256, dtype=np.int64)
                gy = np.arange(y * 256, (y + 1) * 256, dtype=np.int64)
                v = fn(gx[None, :], gy[:, None]).astype(np.uint8)
                rows.append((x, y, encode_png(v[:, :, None])))
            yield pd.DataFrame(rows, columns=["x", "y", "bytes"])

    return (
        spark.range(n * n)
        .repartition(partitions)
        .mapInPandas(gen, schema="x long, y long, bytes binary")
    )


# ---------------------------------------------------------------------------
# round-5 arithmetic-replay fixtures: closed-form pixel/payload tables whose
# exact content a DuckDB oracle can regenerate — the zonal_stats trick applied
# to the remaining pixel ops (stacked blend, flatten, overscale, recompress).
# ---------------------------------------------------------------------------


def rgb3_values(gx: np.ndarray, gy: np.ndarray):
    """Shared closed-form RGB triple at global pixel (gx, gy): three
    coprime-modulus ramps so no channel aliases another and tile borders
    can't mask indexing bugs. Replayed in SQL by rgb3_sql."""
    r = (3 * gx + 5 * gy) % 251
    g = (7 * gx + 11 * gy) % 241
    b = (13 * gx + 17 * gy) % 239
    return r, g, b


def rgb3_sql(gx_expr: str, gy_expr: str) -> tuple[str, str, str]:
    gx, gy = f"({gx_expr})", f"({gy_expr})"
    return (
        f"((3 * {gx} + 5 * {gy}) % 251)",
        f"((7 * {gx} + 11 * {gy}) % 241)",
        f"((13 * {gx} + 17 * {gy}) % 239)",
    )


def rgba_raster_df(
    spark: SparkSession, zoom: int = 2, size: int = 64, partitions: int = 4
) -> DataFrame:
    """RGBA tile table (z, x, y, bytes, fmt): REAL RGBA PNGs with rgb3
    color ramps and a full-range alpha ramp alpha = (29*gx + 31*gy) % 256
    (hits 0, 255 and everything between — the flatten kernel's whole
    domain)."""
    n = 1 << zoom

    def gen(batches):
        from .codecs import encode_png

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                x, y = int(i) % n, int(i) // n
                gx = np.arange(x * size, (x + 1) * size, dtype=np.int64)[None, :]
                gy = np.arange(y * size, (y + 1) * size, dtype=np.int64)[:, None]
                r, g, b = rgb3_values(gx, gy)
                a = (29 * gx + 31 * gy) % 256
                img = np.stack(
                    [c.astype(np.uint8) for c in np.broadcast_arrays(r, g, b, a)], axis=-1
                )
                rows.append((zoom, x, y, encode_png(img), "png"))
            yield pd.DataFrame(rows, columns=["z", "x", "y", "bytes", "fmt"])

    return (
        spark.range(n * n)
        .repartition(partitions)
        .mapInPandas(gen, schema="z long, x long, y long, bytes binary, fmt string")
    )


def stacked_sources_df(
    spark: SparkSession, zoom: int = 2, size: int = 64, partitions: int = 4
) -> list[DataFrame]:
    """Three blendable raster sources (z, x, y, bytes) for the
    stacked_raster_blend oracle. Alphas are BINARY (0/255) so source-over
    in premultiplied float space is bit-exact integer selection
    (fl(fl(v/255)*255) == v for all uint8 v — verified) and the oracle is
    a CASE expression. Tile class t = (x+y)%3 steers the short-circuit:

      t=0: src1 opaque everywhere           -> n_blended=1, out=v1
      t=1: src1 checker, src2 opaque        -> n_blended=2, out=v1/v2
      t=2: src1 checker, src2 transparent,
           src3 opaque RGB                  -> n_blended=3, out=v1/v3

    Per-source value ramps v1=(3gx+5gy)%251, v2=(7gx+11gy)%241,
    v3=(13gx+17gy)%239; channels r=v, g=(v+85)%256, b=(v+170)%256."""
    n = 1 << zoom

    def make(src: int):
        def gen(batches):
            from .codecs import encode_png

            for pdf in batches:
                rows = []
                for i in pdf["id"]:
                    x, y = int(i) % n, int(i) // n
                    t = (x + y) % 3
                    gx = np.arange(x * size, (x + 1) * size, dtype=np.int64)[None, :]
                    gy = np.arange(y * size, (y + 1) * size, dtype=np.int64)[:, None]
                    if src == 1:
                        v = (3 * gx + 5 * gy) % 251
                        if t == 0:
                            a = np.full((size, size), 255, np.int64)
                        else:
                            a = np.where((gx + gy) % 2 == 0, 255, 0)
                    elif src == 2:
                        v = (7 * gx + 11 * gy) % 241
                        a = np.full((size, size), 255 if t == 1 else 0, np.int64)
                    else:
                        v = (13 * gx + 17 * gy) % 239
                        a = None  # RGB: implicitly opaque
                    chans = [v, (v + 85) % 256, (v + 170) % 256]
                    if a is not None:
                        chans.append(a)
                    img = np.stack(
                        [c.astype(np.uint8) for c in np.broadcast_arrays(*chans)], axis=-1
                    )
                    rows.append((zoom, x, y, encode_png(img)))
                yield pd.DataFrame(rows, columns=["z", "x", "y", "bytes"])

        return (
            spark.range(n * n)
            .repartition(partitions)
            .mapInPandas(gen, schema="z long, x long, y long, bytes binary")
        )

    return [make(1), make(2), make(3)]


def parent_rgb_raster_df(
    spark: SparkSession, zoom: int = 1, size: int = 64, partitions: int = 4
) -> DataFrame:
    """Parent tile table (z, x, y, bytes, fmt) for the raster_overscale
    oracle: rgb3 ramps on the global pixel grid of `zoom`."""
    n = 1 << zoom

    def gen(batches):
        from .codecs import encode_png

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                x, y = int(i) % n, int(i) // n
                gx = np.arange(x * size, (x + 1) * size, dtype=np.int64)[None, :]
                gy = np.arange(y * size, (y + 1) * size, dtype=np.int64)[:, None]
                r, g, b = rgb3_values(gx, gy)
                img = np.stack(
                    [c.astype(np.uint8) for c in np.broadcast_arrays(r, g, b)], axis=-1
                )
                rows.append((zoom, x, y, encode_png(img), "png"))
            yield pd.DataFrame(rows, columns=["z", "x", "y", "bytes", "fmt"])

    return (
        spark.range(n * n)
        .repartition(partitions)
        .mapInPandas(gen, schema="z int, x long, y long, bytes binary, fmt string")
    )


def blob_codec_df(spark: SparkSession, n: int = 240, partitions: int = 4) -> DataFrame:
    """Mixed-codec blob table (id, bytes, codec) for the recompress
    round-trip oracle: deterministic repetitive ASCII payloads (so every
    codec actually compresses), stored none / gzip / brotli by id % 3."""

    def gen(batches):
        from .codecs import compress_blob

        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                raw = (f"payload-{i}-seg;" * (30 + i % 17)).encode()
                codec = ("none", "gzip", "brotli")[i % 3]
                rows.append((i, compress_blob(raw, codec), codec))
            yield pd.DataFrame(rows, columns=["id", "bytes", "codec"])

    return (
        spark.range(n)
        .repartition(partitions)
        .mapInPandas(gen, schema="id long, bytes binary, codec string")
    )
