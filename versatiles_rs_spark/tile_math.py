"""Vectorized Web-Mercator tile math — the numerical contract of the engine.

Pure numpy, array-in/array-out: every function here is safe to call from a
pandas UDF (Arrow batches) or driver-side on scalars. Semantics reproduce the
reference implementation bit-for-bit where it matters (clamping, epsilon
insets, Hilbert orientation):

- lat/lng -> tile:       /root/reference/versatiles_core/src/types/tile_coord.rs:64-80
- tile -> lat/lng:       tile_coord.rs:82-88
- sort index:            tile_coord.rs:110-114
- as_level/parent:       tile_coord.rs:138-157,185-188
- flip_y / swap_xy:      tile_coord.rs:179-184
- GeoBBox -> TileBBox (eps=1e-10 inset):
                         /root/reference/versatiles_core/src/types/tile_bbox/constructors.rs:258-266
- bbox pyramid:          /root/reference/versatiles_core/src/types/tile_bbox_pyramid.rs:87-93
- Hilbert index (PMTiles tile_id, zoom levels concatenated):
                         /root/reference/versatiles_core/src/utils/tile_hilbert_index.rs:81-175

All int coordinates use int64 throughout (Spark BIGINT-friendly); zoom <= 31.
"""

from __future__ import annotations

import numpy as np

MAX_ZOOM = 31
MERCATOR_MAX_LAT = 85.05112877980659  # atan(sinh(pi)) in degrees


def _as_f64(a) -> np.ndarray:
    return np.asarray(a, dtype=np.float64)


def _as_i64(a) -> np.ndarray:
    return np.asarray(a, dtype=np.int64)


# ---------------------------------------------------------------------------
# lon/lat <-> tile
# ---------------------------------------------------------------------------

def lonlat_to_tile_frac(lon, lat, z) -> tuple[np.ndarray, np.ndarray]:
    """Unclamped fractional tile coordinates at zoom ``z``.

    x = 2^z * (lon/360 + 0.5)
    y = 2^z * (0.5 - 0.5*ln(tan(lat*pi/360 + pi/4))/pi)
    (tile_coord.rs:71-73, PI32 == f64 pi)
    """
    lon, lat, z = _as_f64(lon), _as_f64(lat), _as_f64(z)
    zoom = np.exp2(z)
    fx = zoom * (lon / 360.0 + 0.5)
    with np.errstate(divide="ignore"):  # lat=-90 -> log(0) -> -inf, clamped later
        fy = zoom * (0.5 - 0.5 * np.log(np.tan(lat * np.pi / 360.0 + np.pi / 4.0)) / np.pi)
    return fx, fy


def lonlat_to_tile(lon, lat, z) -> tuple[np.ndarray, np.ndarray]:
    """Integer tile (x, y) at zoom ``z``: clamp to [0, 2^z-1] then floor.

    Exactly `min(zoom-1).max(0).floor()` per tile_coord.rs:75-79 — note the
    clamp happens on the *float* value before flooring.
    """
    fx, fy = lonlat_to_tile_frac(lon, lat, z)
    zoom = np.exp2(_as_f64(z))
    x = np.floor(np.maximum(np.minimum(fx, zoom - 1.0), 0.0)).astype(np.int64)
    y = np.floor(np.maximum(np.minimum(fy, zoom - 1.0), 0.0)).astype(np.int64)
    return x, y


def tile_to_lonlat(z, x, y) -> tuple[np.ndarray, np.ndarray]:
    """NW-corner geographic coordinates of tile (z, x, y). tile_coord.rs:82-88."""
    z, x, y = _as_f64(z), _as_f64(x), _as_f64(y)
    zoom = np.exp2(z)
    lon = (x / zoom - 0.5) * 360.0
    lat = (np.arctan(np.exp(np.pi * (1.0 - 2.0 * y / zoom))) / np.pi - 0.25) * 360.0
    return lon, lat


def tile_to_geo_bbox(z, x, y) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """[west, south, east, north] of a single tile (tile_coord.rs:96-100)."""
    w, n = tile_to_lonlat(z, x, y)
    e, s = tile_to_lonlat(z, _as_f64(x) + 1.0, _as_f64(y) + 1.0)
    return w, s, e, n


# ---------------------------------------------------------------------------
# bbox algebra
# ---------------------------------------------------------------------------

def geo_bbox_to_tile_bbox(z: int, x_min: float, y_min: float, x_max: float, y_max: float):
    """GeoBBox -> inclusive TileBBox (x0, y0, x1, y1) at zoom z.

    Uses the reference's eps=1e-10 inset so boundary-aligned boxes don't bleed
    into neighbor tiles (tile_bbox/constructors.rs:258-266). Golden:
    z9, (8.0653, 51.3563, 12.3528, 52.2564) -> [267, 168, 273, 170].
    """
    eps = 1e-10
    x0, y0 = lonlat_to_tile(x_min + eps, y_max - eps, z)
    x1, y1 = lonlat_to_tile(x_max - eps, y_min + eps, z)
    return int(x0), int(y0), int(x1), int(y1)


def bbox_pyramid(z_min: int, z_max: int, geo_bbox: tuple[float, float, float, float]):
    """Enumerate per-level tile bboxes for a GeoBBox (tile_bbox_pyramid.rs:87-93).

    Returns list of (z, x0, y0, x1, y1). Golden strings at
    tile_bbox_pyramid.rs:439-453, e.g. "8:[133,84,136,85]".
    """
    out = []
    for z in range(z_min, z_max + 1):
        out.append((z, *geo_bbox_to_tile_bbox(z, *geo_bbox)))
    return out


def pyramid_strings(pyr) -> list[str]:
    """Render a pyramid as the reference's golden "z:[x0,y0,x1,y1]" strings."""
    return [f"{z}:[{x0},{y0},{x1},{y1}]" for (z, x0, y0, x1, y1) in pyr]


def count_tiles(x0: int, y0: int, x1: int, y1: int) -> int:
    """Inclusive-bbox tile count (tile_bbox constructors tests :552-560)."""
    if x1 < x0 or y1 < y0:
        return 0
    return (x1 - x0 + 1) * (y1 - y0 + 1)


def bbox_intersect(a, b):
    """Intersect two (x0,y0,x1,y1) bboxes; None if empty (tile_bbox/mutate.rs:189)."""
    x0, y0 = max(a[0], b[0]), max(a[1], b[1])
    x1, y1 = min(a[2], b[2]), min(a[3], b[3])
    if x1 < x0 or y1 < y0:
        return None
    return (x0, y0, x1, y1)


def bbox_include(a, b):
    """Union-extent of two bboxes (tile_bbox/mutate.rs:138)."""
    return (min(a[0], b[0]), min(a[1], b[1]), max(a[2], b[2]), max(a[3], b[3]))


# ---------------------------------------------------------------------------
# coordinate transforms
# ---------------------------------------------------------------------------

def in_pyramid(z: int, x: int, y: int) -> bool:
    """Scalar guard: (z, x, y) is a real tile (0 <= z <= 31, 0 <= x, y < 2^z).
    Point lookups check it first — out-of-range input would otherwise
    overflow hilbert_index into another tile's id."""
    return 0 <= z <= MAX_ZOOM and 0 <= x < (1 << z) and 0 <= y < (1 << z)


def flip_y(z, y) -> np.ndarray:
    """TMS <-> XYZ: y -> 2^z - 1 - y (tile_coord.rs:179-181)."""
    return (np.int64(1) << _as_i64(z)) - 1 - _as_i64(y)


def as_level(z, x, y, target_level):
    """Rescale (x, y) from zoom z to target_level (tile_coord.rs:138-157)."""
    z, x, y = _as_i64(z), _as_i64(x), _as_i64(y)
    t = _as_i64(target_level)
    up = np.maximum(t - z, 0)
    down = np.maximum(z - t, 0)
    nx = np.where(t > z, x << up, x >> down)
    ny = np.where(t > z, y << up, y >> down)
    return nx, ny


def parent(z, x, y):
    """Parent coordinate (z-1, x//2, y//2) (tile_coord.rs:185-188)."""
    return _as_i64(z) - 1, _as_i64(x) >> 1, _as_i64(y) >> 1


def sort_index(z, x, y) -> np.ndarray:
    """Row-major linear index with per-level offset (4^z - 1)/3 (tile_coord.rs:110-114)."""
    z, x, y = _as_i64(z), _as_i64(x), _as_i64(y)
    size = np.int64(1) << z
    offset = (size * size - 1) // 3
    return offset + size * y + x


def quadkey(z, x, y) -> np.ndarray:
    """Bit-interleaved quadtree key as int64: sum over bits of quadrant digits.

    Matches the DepthFirst traversal sort key semantics
    (/root/reference/versatiles_core/src/traversal/order.rs:94-110).
    """
    z, x, y = _as_i64(z), _as_i64(x), _as_i64(y)
    zmax = int(np.max(z)) if np.ndim(z) else int(z)
    key = np.zeros(np.broadcast(z, x, y).shape, dtype=np.int64)
    for bit in range(zmax):
        shift = np.maximum(z - 1 - bit, 0)
        valid = bit < z
        digit = (((x >> shift) & 1) | (((y >> shift) & 1) << 1))
        key = np.where(valid, (key << 2) | digit, key)
    return key


# ---------------------------------------------------------------------------
# Hilbert index (PMTiles tile_id): zoom levels concatenated
# ---------------------------------------------------------------------------

def _level_offset(z) -> np.ndarray:
    """acc = sum_{t<z} 4^t = (4^z - 1) / 3 (tile_hilbert_index.rs:95-98)."""
    z = _as_i64(z)
    return ((np.int64(1) << (2 * z)) - 1) // 3


def hilbert_index(z, x, y) -> np.ndarray:
    """Vectorized Hilbert encode (tile_hilbert_index.rs:81-113).

    Golden: (1,1,1)->3, (2,2,2)->13, (5,3,3)->73, (7,7,3)->63,
    (0,0,31)->1537228672809129301, (2^31-1,2^31-1,31)->4611686018427387903.
    A single in-range coordinate (a serve-path point lookup) takes a plain
    int loop: the array loop costs ~0.3 ms per call in numpy overhead.
    """
    if np.ndim(z) == np.ndim(x) == np.ndim(y) == 0 and 0 <= z <= MAX_ZOOM:
        return np.array(_hilbert_scalar(int(z), int(x), int(y)), dtype=np.int64)
    z = _as_i64(z)
    tx = _as_i64(x).copy()
    ty = _as_i64(y).copy()
    z, tx, ty = np.broadcast_arrays(z, tx, ty)
    tx, ty = tx.copy(), ty.copy()
    d = _level_offset(z).copy()
    zmax = int(z.max()) if z.size else 0
    # iterate s = 2^(zmax-1) .. 1; lanes with smaller z skip via the s < 2^z mask
    for bit in range(zmax - 1, -1, -1):
        s = np.int64(1) << bit
        active = s < (np.int64(1) << z)
        rx = ((tx & s) > 0).astype(np.int64)
        ry = ((ty & s) > 0).astype(np.int64)
        d = np.where(active, d + s * s * ((3 * rx) ^ ry), d)
        # rotate (tile_hilbert_index.rs:123-132): when ry==0, reflect if rx==1, then swap
        do_rot = active & (ry == 0)
        refl = do_rot & (rx == 1)
        tx = np.where(refl, s - 1 - tx, tx)
        ty = np.where(refl, s - 1 - ty, ty)
        tx2 = np.where(do_rot, ty, tx)
        ty2 = np.where(do_rot, tx, ty)
        tx, ty = tx2, ty2
    return d


def _hilbert_scalar(z: int, tx: int, ty: int) -> int:
    """hilbert_index's loop on one coordinate, in Python ints."""
    d = ((1 << (2 * z)) - 1) // 3
    for bit in range(z - 1, -1, -1):
        s = 1 << bit
        rx = 1 if tx & s else 0
        ry = 1 if ty & s else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                tx, ty = s - 1 - tx, s - 1 - ty
            tx, ty = ty, tx
    return d


def hilbert_decode(index) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized Hilbert decode -> (z, x, y) (tile_hilbert_index.rs:144-175)."""
    idx = _as_i64(index)
    scalar = np.ndim(idx) == 0
    idx = np.atleast_1d(idx)
    # find level: largest z with offset(z) <= idx
    offs = _level_offset(np.arange(MAX_ZOOM + 2))
    z = (np.searchsorted(offs, idx, side="right") - 1).astype(np.int64)
    t = idx - offs[z]
    tx = np.zeros_like(t)
    ty = np.zeros_like(t)
    zmax = int(z.max()) if z.size else 0
    for bit in range(zmax):
        s = np.int64(1) << bit
        active = s < (np.int64(1) << z)
        rx = (t >> 1) & 1
        ry = (t ^ rx) & 1
        do_rot = active & (ry == 0)
        refl = do_rot & (rx == 1)
        tx = np.where(refl, s - 1 - tx, tx)
        ty = np.where(refl, s - 1 - ty, ty)
        tx2 = np.where(do_rot, ty, tx)
        ty2 = np.where(do_rot, tx, ty)
        tx, ty = tx2, ty2
        tx = np.where(active & (rx == 1), tx + s, tx)
        ty = np.where(active & (ry == 1), ty + s, ty)
        t = np.where(active, t >> 2, t)
    if scalar:
        return int(z[0]), int(tx[0]), int(ty[0])
    return z, tx, ty


# ---------------------------------------------------------------------------
# block grid (power-of-two block decomposition used by writers/overview)
# ---------------------------------------------------------------------------

def block_coord(x, y, block_size: int):
    """Block id of a tile for block-granular grouping.

    The reference works in power-of-two blocks everywhere (overview 32,
    stacked 16, versatiles 256, pmtiles 64 — SURVEY.md §4). Returns
    (x // block_size, y // block_size).
    """
    bs = int(block_size)
    assert bs & (bs - 1) == 0 and bs > 0, "block size must be a power of two"
    shift = bs.bit_length() - 1
    return _as_i64(x) >> shift, _as_i64(y) >> shift
