"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical inputs, another seed gives other inputs.
Nothing here imports the engine, so inputs never depend on the code under
test (the PNG payloads are written by a tiny encoder of our own).

Each input kind draws from its own numpy stream (``_rng(seed, STREAM)``),
so resizing one input never reshuffles another.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd

# one numpy stream per input kind
_IMAGES, _TILES, _REQUESTS, _EVENTS, _TPCH, _ORDER = range(6)

# the engine's hot cell for image rows whose numeric id is a multiple of 5
# (FIXTURES.md section 1: ids i % 5 == 0 are jittered into this cell, so
# the engine's own fixtures put 20% of the rows there; so does images_table)
HOT_LON, HOT_LAT = 13.4, 52.5
_MERC_LAT = 85.05112877980159
IMAGE_PX = 64

# export_serve traffic shape. No measured source backs these values; they
# are unverified choices (perfbench/DESIGN.md, "Input parameters"):
DUP_SHARE = 0.3  # base tiles that carry one of three shared payloads
ZIPF_S = 0.8  # Zipf exponent of the request ranks
MISS_SHARE = 0.1  # requests for keys outside the archive
TILE_PX = 64
BLOCK_SPAN = 48  # base tiles lie in a BLOCK_SPAN x BLOCK_SPAN window

_WORDS = "river road ridge field coast harbour forest town lake dune".split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


# ---------------------------------------------------------------------------
# payloads
# ---------------------------------------------------------------------------


def png_bytes(img: np.ndarray) -> bytes:
    """Minimal RGB PNG (filter 0 on every row, zlib level 1)."""
    h, w, _ = img.shape
    raw = np.zeros((h, w * 3 + 1), dtype=np.uint8)
    raw[:, 1:] = img.reshape(h, w * 3)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw.tobytes(), 1))
        + chunk(b"IEND", b"")
    )


def _patterns(rng: np.random.Generator, n: int, size: int) -> np.ndarray:
    """``n`` seeded images of one structure (so per-image codec cost does
    not depend on the seed): a gradient with seeded slopes and offsets per
    channel, plus low-amplitude noise. Shape (n, size, size, 3), uint8."""
    y, x = np.mgrid[0:size, 0:size].astype(np.uint8)
    a = rng.integers(1, 4, (n, 1, 1, 3), dtype=np.uint8)
    b = rng.integers(1, 4, (n, 1, 1, 3), dtype=np.uint8)
    c = rng.integers(0, 256, (n, 1, 1, 3), dtype=np.uint8)
    # uint8 arithmetic wraps, which is the intended mod 256
    img = x[None, :, :, None] * a + y[None, :, :, None] * b + c
    img += rng.integers(0, 4, (n, size, size, 3), dtype=np.uint8)
    return img


# ---------------------------------------------------------------------------
# ingest_encode: stored images table (input_hint schema)
# ---------------------------------------------------------------------------


def images_table(seed: int, n: int) -> pd.DataFrame:
    """Rows of the input_hint images schema (image_id, bytes, w, h, fmt,
    caption, phash), IMAGE_PX square. Every fifth row (in seeded order)
    gets a numeric id that is a multiple of 5, which the engine's tile
    kernel places in the hot cell."""
    size = IMAGE_PX
    rng = _rng(seed, _IMAGES)
    base = rng.choice(200_000_000, size=n, replace=False).astype(np.int64)
    ids = base * 5 + rng.permutation(np.arange(n) % 5)
    phash = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, n, dtype=np.int64)
    words = rng.integers(0, len(_WORDS), (n, 3))
    return pd.DataFrame(
        {
            "image_id": [f"img{i:012d}" for i in ids],
            "bytes": [png_bytes(img) for img in _patterns(rng, n, size)],
            "w": np.full(n, size, dtype=np.int32),
            "h": np.full(n, size, dtype=np.int32),
            "fmt": "png",
            "caption": [" ".join(_WORDS[k] for k in row) for row in words],
            "phash": phash,
        }
    )


def image_lonlat(image_id: pd.Series, phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Where the images table says each row lies (FIXTURES.md section 1):
    phash bits [0,26) give lon, bits [26,52) give web-mercator lat, and
    rows with a numeric id divisible by 5 sit in the hot cell, jittered by
    bits [52,64)."""
    p = np.asarray(phash).astype(np.uint64)
    m26 = np.uint64((1 << 26) - 1)
    lon = (p & m26).astype(np.float64) / (1 << 26) * 360.0 - 180.0
    latf = ((p >> np.uint64(26)) & m26).astype(np.float64) / (1 << 26)
    lat = latf * (2 * _MERC_LAT) - _MERC_LAT
    i = image_id.str.slice(3).astype(np.int64).to_numpy()
    hot = i % 5 == 0
    jit = (p >> np.uint64(52)).astype(np.float64) / (1 << 12)
    lon = np.where(hot, HOT_LON + jit * 0.01, lon)
    lat = np.where(hot, HOT_LAT + jit * 0.01, lat)
    return lon, lat


# ---------------------------------------------------------------------------
# brute-force point-in-polygon, the oracle for the flagship's PIP join
# ---------------------------------------------------------------------------


def pip_mask(px: np.ndarray, py: np.ndarray, rings: list) -> np.ndarray:
    """Brute-force even-odd crossing-number test of points against a
    polygon given as rings (outer first, holes after)."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        r = np.asarray(ring, dtype=np.float64)
        x0, y0, x1, y1 = r[:-1, 0], r[:-1, 1], r[1:, 0], r[1:, 1]
        for k in range(len(x0)):
            if y0[k] == y1[k]:
                continue
            straddles = (y0[k] > py) != (y1[k] > py)
            xcross = (x1[k] - x0[k]) * (py - y0[k]) / (y1[k] - y0[k]) + x0[k]
            inside ^= straddles & (px < xcross)
    return inside


def pip_counts(px: np.ndarray, py: np.ndarray, polys: pd.DataFrame) -> dict[str, int]:
    """Matches per polygon by brute force (bbox prefilter, then pip_mask)."""
    out = {}
    for pid, rings in zip(polys["poly_id"], polys["rings"]):
        outer = np.asarray(rings[0])
        sel = np.nonzero(
            (px >= outer[:, 0].min()) & (px <= outer[:, 0].max())
            & (py >= outer[:, 1].min()) & (py <= outer[:, 1].max())
        )[0]
        n = int(pip_mask(px[sel], py[sel], rings).sum()) if len(sel) else 0
        if n:
            out[pid] = n
    return out


# ---------------------------------------------------------------------------
# export_serve: base tiles, Zipf request list
# ---------------------------------------------------------------------------


def base_tiles(seed: int, z: int, n: int) -> pd.DataFrame:
    """``n`` (a multiple of 4) distinct tiles at zoom ``z``: ``n / 4``
    seeded complete 2x2 blocks inside a BLOCK_SPAN x BLOCK_SPAN window, as
    (z, x, y, bytes, fmt) TILE_PX PNG rows. DUP_SHARE of them carry one of
    three shared flat-colour payloads, so the writer's content dedup has
    something to merge."""
    size, span = TILE_PX, BLOCK_SPAN
    rng = _rng(seed, _TILES)
    side = 1 << z
    # whole 2x2 blocks, so the pyramid above has exactly n / 4 parents
    ox, oy = (int(v) for v in rng.integers(0, side - span, 2) // 2 * 2)
    half = span // 2
    blocks = rng.choice(half * half, size=n // 4, replace=False)
    bx, by = ox + 2 * (blocks % half), oy + 2 * (blocks // half)
    x = (bx[:, None] + np.array([0, 1, 0, 1])).ravel()
    y = (by[:, None] + np.array([0, 0, 1, 1])).ravel()
    n = len(x)
    shared = [png_bytes(np.full((size, size, 3), v, dtype=np.uint8)) for v in (40, 90, 140)]
    dup = rng.random(n) < DUP_SHARE
    pick = rng.integers(0, 3, n)
    imgs = _patterns(rng, n, size)
    payload = [shared[pick[k]] if dup[k] else png_bytes(imgs[k]) for k in range(n)]
    return pd.DataFrame(
        {
            "z": np.full(n, z, dtype=np.int32),
            "x": x.astype(np.int64),
            "y": y.astype(np.int64),
            "bytes": payload,
            "fmt": "png",
        }
    )


def zipf_requests(seed: int, keys: list[tuple[int, int, int]], n: int) -> list[tuple[int, int, int]]:
    """``n`` tile keys: Zipf(ZIPF_S)-ranked draws over a seeded ranking of
    the present ``keys``, with MISS_SHARE of them replaced by keys that are
    absent (same zoom range, outside the present set)."""
    rng = _rng(seed, _REQUESTS)
    keys = sorted(keys)
    order = rng.permutation(len(keys))
    weights = 1.0 / np.arange(1, len(keys) + 1) ** ZIPF_S
    ranks = rng.choice(len(keys), size=n, p=weights / weights.sum())
    present = set(keys)
    zs = sorted({k[0] for k in keys})
    out = []
    for r in ranks:
        if rng.random() < MISS_SHARE:
            while True:
                z = int(rng.choice(zs))
                side = 1 << z
                cand = (z, int(rng.integers(0, side)), int(rng.integers(0, side)))
                if cand not in present:
                    break
            out.append(cand)
        else:
            out.append(keys[order[r]])
    return out


# ---------------------------------------------------------------------------
# analytics_tail: the tables its registry queries read
# ---------------------------------------------------------------------------

# sizes of the repo's smallest sf test tables (TESTDATA.md, sf0.001), so
# each query does the work it does on them
N_EVENTS, N_CUSTOMERS, N_ORDERS = 1000, 150, 1500
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
_EPOCH_US = np.datetime64("2024-01-01T00:00:00", "us")
_MONTH_US = 30 * 86_400 * 1_000_000


def events_table(seed: int) -> pd.DataFrame:
    """N_EVENTS events over 30 days: (event_id, ts), the columns the tail
    queries read. The ids are 0..N-1 as in the sf tables (the engine
    derives an event's lon/lat from its id); the timestamps are seeded."""
    us = np.sort(_rng(seed, _EVENTS).integers(0, _MONTH_US, N_EVENTS))
    return pd.DataFrame(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": _EPOCH_US + us.astype("timedelta64[us]"),
        }
    )


def tpch_tables(seed: int) -> dict[str, pd.DataFrame]:
    """customer, orders and lineitem at TPC-H scale factor 0.001, with the
    columns the tail queries read and the spec's value rules (TPC-H 4.2.3): five market segments, only customers
    whose key is not a multiple of 3 place orders, order dates uniform
    over 1992-01-01 .. 1998-08-02, 1-7 line items per order, ship date
    1-121 days after the order, discount 0.00-0.10."""
    rng = _rng(seed, _TPCH)
    ckeys = np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)
    customer = pd.DataFrame({"c_custkey": ckeys, "c_mktsegment": rng.choice(SEGMENTS, len(ckeys))})
    okeys = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    day0 = np.datetime64("1992-01-01", "D")
    odate = day0 + rng.integers(0, (np.datetime64("1998-08-02", "D") - day0).astype(int) + 1, N_ORDERS)
    orders = pd.DataFrame(
        {
            "o_orderkey": okeys,
            "o_custkey": rng.choice(ckeys[ckeys % 3 != 0], N_ORDERS),
            "o_orderdate": odate.astype("datetime64[us]"),
        }
    )
    per = rng.integers(1, 8, N_ORDERS)
    li_order = np.repeat(np.arange(N_ORDERS), per)
    n = len(li_order)
    lineitem = pd.DataFrame(
        {
            "l_orderkey": okeys[li_order],
            # quantity 1-50 times a part price of 900-2100
            "l_extendedprice": np.round(rng.integers(1, 51, n) * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_shipdate": (odate[li_order] + rng.integers(1, 122, n)).astype("datetime64[us]"),
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def tail_tables(seed: int) -> dict[str, pd.DataFrame]:
    return {"events": events_table(seed), **tpch_tables(seed)}


def tail_order(seed: int, names) -> list[str]:
    """The query order of every pass: a seeded permutation of ``names``."""
    return [names[i] for i in _rng(seed, _ORDER).permutation(len(names))]
