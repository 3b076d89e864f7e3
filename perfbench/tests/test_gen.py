"""Seeded generators: same seed -> identical inputs, other seed -> other."""

import zlib

import numpy as np
import pandas as pd
import pytest

from perfbench import gen


def same(a, b) -> bool:
    if isinstance(a, pd.DataFrame):
        return a.shape == b.shape and all(
            list(a[c]) == list(b[c]) if a[c].dtype == object else np.array_equal(a[c], b[c])
            for c in a.columns
        )
    return a == b


KEYS = [(6, x, y) for x in range(10, 20) for y in range(5, 9)]

GENERATORS = {
    "images": lambda s: gen.images_table(s, 30),
    "base_tiles": lambda s: gen.base_tiles(s, 6, 52),
    "requests": lambda s: gen.zipf_requests(s, KEYS, 200),
    "events": gen.events_table,
    "customer": lambda s: gen.tpch_tables(s)["customer"],
    "orders": lambda s: gen.tpch_tables(s)["orders"],
    "lineitem": lambda s: gen.tpch_tables(s)["lineitem"],
}


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_same_seed_same_input(kind):
    assert same(GENERATORS[kind](7), GENERATORS[kind](7))


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_other_seed_other_input(kind):
    assert not same(GENERATORS[kind](7), GENERATORS[kind](8))


def test_png_payload_decodes_to_pixels():
    img = np.arange(4 * 5 * 3, dtype=np.uint8).reshape(4, 5, 3)
    blob = gen.png_bytes(img)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    idat = blob.index(b"IDAT")
    n = int.from_bytes(blob[idat - 4: idat], "big")
    raw = np.frombuffer(zlib.decompress(blob[idat + 4: idat + 4 + n]), dtype=np.uint8)
    rows = raw.reshape(4, 16)
    assert (rows[:, 0] == 0).all()
    assert np.array_equal(rows[:, 1:].reshape(4, 5, 3), img)


def test_images_hot_share_and_unique_ids():
    t = gen.images_table(3, 2000)
    ids = t["image_id"].str.slice(3).astype(np.int64)
    assert ids.is_unique
    assert (ids % 5 == 0).sum() == 400
    lon, lat = gen.image_lonlat(t["image_id"], t["phash"].to_numpy())
    hot = (ids % 5 == 0).to_numpy()
    assert np.all(np.abs(lon[hot] - gen.HOT_LON) <= 0.01)
    assert np.all((lon >= -180) & (lon < 180) & (np.abs(lat) <= 85.06))


def test_base_tiles_duplicate_share():
    t = gen.base_tiles(5, 6, 400)
    assert not t.duplicated(["x", "y"]).any()
    dup = t["bytes"].duplicated(keep=False).mean()
    assert 0.2 < dup < 0.4


def test_requests_miss_share():
    reqs = gen.zipf_requests(5, KEYS, 2000)
    present = set(KEYS)
    miss = np.mean([r not in present for r in reqs])
    assert 0.07 < miss < 0.13


def test_pip_mask_hole_and_edges():
    outer = [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]]
    hole = [[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]]
    px = np.array([0.5, 2.0, 3.5, 5.0, -1.0])
    py = np.array([0.5, 2.0, 3.5, 2.0, 2.0])
    assert gen.pip_mask(px, py, [outer, hole]).tolist() == [True, False, True, False, False]


def test_pip_counts_matches_per_point_loop():
    box = [[0, 0], [4, 0], [4, 3], [0, 3], [0, 0]]
    ell = [[1, 1], [5, 1], [5, 2], [2, 2], [2, 4], [1, 4], [1, 1]]
    hole = [[1, 1], [2, 1], [2, 2], [1, 2], [1, 1]]
    polys = pd.DataFrame({"poly_id": ["box", "ell", "holed", "far"],
                          "rings": [[box], [ell], [box, hole], [[[9, 9], [10, 9], [10, 10], [9, 9]]]]})
    rng = np.random.default_rng(0)
    px, py = rng.uniform(-1, 6, 3000), rng.uniform(-1, 5, 3000)

    def inside(x, y, ring):
        c = False
        for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
            if (y0 > y) != (y1 > y) and x < (x1 - x0) * (y - y0) / (y1 - y0) + x0:
                c = not c
        return c

    loop = {}
    for pid, rings in zip(polys["poly_id"], polys["rings"]):
        n = sum(1 for x, y in zip(px, py) if sum(inside(x, y, r) for r in rings) % 2)
        if n:
            loop[pid] = n
    assert set(loop) == {"box", "ell", "holed"}
    assert gen.pip_counts(px, py, polys) == loop


def test_tail_order_is_a_seeded_permutation():
    names = ("a", "b", "c", "d")
    assert sorted(gen.tail_order(1, names)) == sorted(names)
    assert gen.tail_order(1, names) == gen.tail_order(1, names)
    assert len({tuple(gen.tail_order(s, names)) for s in range(10)}) > 1


def test_tpch_value_rules():
    t = gen.tpch_tables(4)
    c, o, li = t["customer"], t["orders"], t["lineitem"]
    assert set(c["c_mktsegment"]) <= set(gen.SEGMENTS)
    assert (o["o_custkey"] % 3 != 0).all() and o["o_custkey"].isin(c["c_custkey"]).all()
    per = li.groupby("l_orderkey").size()
    assert per.min() >= 1 and per.max() <= 7 and len(per) == len(o)
    lag = (li["l_shipdate"] - li["l_orderkey"].map(o.set_index("o_orderkey")["o_orderdate"])).dt.days
    assert lag.between(1, 121).all()
    assert li["l_discount"].between(0, 0.1).all()
