"""PMTiles v3 container: header layout, varint directories, round-trips,
leaf-directory splitting, invariants."""

import gzip
import struct

import pytest
from pyspark.sql import functions as F

from versatiles_rs_spark import fixtures
from versatiles_rs_spark.sources.pmtiles import (
    HEADER_LEN,
    deserialize_entries,
    read_pmtiles,
    read_pmtiles_header,
    read_pmtiles_metadata,
    serialize_entries,
    write_pmtiles,
)


class TestDirectorySerialization:
    def test_roundtrip(self):
        entries = [(3, 0, 100, 1), (13, 100, 50, 1), (999, 150, 7, 1), (10**12, 157, 1, 1)]
        assert deserialize_entries(serialize_entries(entries)) == entries

    def test_contiguous_offsets_encode_as_zero(self):
        entries = [(1, 0, 10, 1), (2, 10, 20, 1), (3, 30, 5, 1)]
        buf = serialize_entries(entries)
        # decode agrees even though contiguous offsets are stored as 0
        assert deserialize_entries(buf) == entries

    def test_non_contiguous_offsets(self):
        entries = [(1, 0, 10, 1), (2, 50, 20, 1)]
        assert deserialize_entries(serialize_entries(entries)) == entries


@pytest.fixture(scope="module")
def tiles(spark):
    df = fixtures.images_with_tiles_df(spark, 300, size=16, zoom=4, partitions=4, skew=False)
    return df.groupBy("z", "x", "y").agg(F.min("bytes").alias("bytes")).cache()


def test_header_layout(spark, tiles, tmp_path):
    path = str(tmp_path / "t.pmtiles")
    n = write_pmtiles(tiles, path, metadata={"name": "fixture"}, tile_type="png")
    assert n == tiles.count()
    raw = open(path, "rb").read()
    assert raw[:7] == b"PMTiles" and raw[7] == 3
    h = read_pmtiles_header(path)
    assert h["clustered"] and h["tile_type"] == "png"
    assert h["min_zoom"] == h["max_zoom"] == 4
    assert h["addressed_tiles"] == n
    assert h["metadata"][0] == 16384  # root dir fits the 16 KiB prologue
    assert h["root_dir"][0] == HEADER_LEN and h["root_dir"][1] <= 16384 - HEADER_LEN
    assert read_pmtiles_metadata(path) == {"name": "fixture"}


def test_roundtrip_bytes_and_coords(spark, tiles, tmp_path):
    path = str(tmp_path / "rt.pmtiles")
    write_pmtiles(tiles, path)
    back = read_pmtiles(spark, path)
    a = {(r.z, r.x, r.y): bytes(r.bytes) for r in tiles.collect()}
    b = {(r.z, r.x, r.y): bytes(r.bytes) for r in back.collect()}
    assert a == b


def test_tile_data_is_hilbert_clustered(spark, tiles, tmp_path):
    """Payload byte ranges must be contiguous in strictly increasing Hilbert
    order (the reference writer's core invariant)."""
    path = str(tmp_path / "cl.pmtiles")
    write_pmtiles(tiles, path)
    h = read_pmtiles_header(path)
    raw = open(path, "rb").read()
    entries = deserialize_entries(
        gzip.decompress(raw[h["root_dir"][0] : h["root_dir"][0] + h["root_dir"][1]])
    )
    ids = [e[0] for e in entries]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    for prev, cur in zip(entries, entries[1:]):
        assert cur[1] == prev[1] + prev[2]  # contiguous data


def test_duplicate_coordinates_rejected(spark, tiles, tmp_path):
    dup = tiles.unionByName(tiles.limit(1))
    with pytest.raises(ValueError, match="duplicate tile id"):
        write_pmtiles(dup, str(tmp_path / "dup.pmtiles"))


def test_leaf_directory_split(spark, tmp_path):
    """Enough entries to overflow the 16 KiB root: directories split into
    leaves (run_length=0 pointers) and still round-trip."""
    import numpy as np

    rng = np.random.default_rng(42)
    rows = []
    z = 10
    for x in range(200):
        for y in range(150):
            # high-entropy payload sizes keep the varint directory
            # incompressible so the root genuinely overflows 16 KiB
            ln = 1 + int(rng.integers(0, 300))
            rows.append((z, x, y, bytes([x % 251, y % 251]) * ln))
    df = spark.createDataFrame(rows, "z int, x long, y long, bytes binary")
    path = str(tmp_path / "leaves.pmtiles")
    n = write_pmtiles(df, path)
    assert n == len(rows)
    h = read_pmtiles_header(path)
    assert h["leaf_dirs"][1] > 0  # leaves actually used
    back = read_pmtiles(spark, path)
    assert back.count() == len(rows)
    expect = {(r[1], r[2]): r[3] for r in rows}
    one = back.filter((F.col("x") == 57) & (F.col("y") == 33)).first()
    assert bytes(one.bytes) == expect[(57, 33)]


def test_read_pmtiles_run_length_entries(spark, tmp_path):
    """A spec-compliant external archive may address rl consecutive Hilbert
    ids with ONE entry; reader must expand the run (ADVICE r1)."""
    import gzip
    import struct

    import pandas as pd

    from versatiles_rs_spark import tile_math as tm
    from versatiles_rs_spark.sources.pmtiles import (
        read_pmtiles,
        serialize_entries,
        write_pmtiles,
    )

    blob = b"\x89PNG-run-length-payload"
    # three hilbert-consecutive tiles at z=2 sharing one payload
    import numpy as np

    tids = [5, 6, 7]
    zs, xs, ys = tm.hilbert_decode(np.array(tids, dtype=np.int64))
    pdf = pd.DataFrame({"z": zs, "x": xs, "y": ys, "bytes": [blob] * 3})
    df = spark.createDataFrame(pdf, schema="z int, x long, y long, bytes binary")
    p = str(tmp_path / "rl.pmtiles")
    write_pmtiles(df, p)

    raw = open(p, "rb").read()
    vals = struct.unpack_from("<8Q", raw, 8)
    (r_off, r_len), (m_off, m_len), (l_off, l_len), (t_off, t_len) = (
        (vals[0], vals[1]), (vals[2], vals[3]), (vals[4], vals[5]), (vals[6], vals[7])
    )
    # rebuild: single rl=3 entry, tile data holds ONE copy of the payload
    new_root = gzip.compress(serialize_entries([(tids[0], 0, len(blob), 3)]), mtime=0)
    meta = raw[m_off : m_off + m_len]
    leaf = raw[l_off : l_off + l_len]
    hdr = bytearray(raw[:127])
    nr = 127
    nm, nl, nt = nr + len(new_root), nr + len(new_root) + len(meta), nr + len(new_root) + len(meta) + len(leaf)
    struct.pack_into("<8Q", hdr, 8, nr, len(new_root), nm, len(meta), nl, len(leaf), nt, len(blob))
    open(p, "wb").write(bytes(hdr) + new_root + meta + leaf + blob)

    got = sorted((r.z, r.x, r.y, bytes(r.bytes)) for r in read_pmtiles(spark, p).collect())
    want = sorted((int(z), int(x), int(y), blob) for z, x, y in zip(zs, xs, ys))
    assert got == want


def test_dedup_and_rle_writer(spark, tmp_path):
    """Content dedup + run-length coalescing (PMTiles v3 spec features the
    reference writer skips — writer.rs:140-142 sets all three counts equal):
    identical payloads share one blob, consecutive identical ids collapse to
    one rl>1 entry, header counts report the three tiers honestly, and the
    archive reads back tile-for-tile identical."""
    import numpy as np
    import pandas as pd

    from versatiles_rs_spark import tile_math as tm

    ocean = b"\x89PNG-ocean-tile-payload"
    tids = np.arange(100, dtype=np.int64) + 1365  # inside one deep zoom band
    zs, xs, ys = tm.hilbert_decode(tids)
    payloads = [
        ocean if (t // 10) % 2 == 0 else b"unique-%05d" % t for t in tids
    ]
    pdf = pd.DataFrame({"z": zs, "x": xs, "y": ys, "bytes": payloads})
    df = spark.createDataFrame(pdf, schema="z int, x long, y long, bytes binary")

    p_dedup = str(tmp_path / "dedup.pmtiles")
    p_plain = str(tmp_path / "plain.pmtiles")
    assert write_pmtiles(df, p_dedup) == 100
    assert write_pmtiles(df, p_plain, dedup=False) == 100

    h = read_pmtiles_header(p_dedup)
    hp = read_pmtiles_header(p_plain)
    n_unique = len(set(payloads))
    assert h["addressed_tiles"] == 100
    assert h["tile_contents"] == n_unique
    assert h["tile_entries"] < 100  # runs of ocean tiles coalesced
    assert hp["addressed_tiles"] == hp["tile_entries"] == hp["tile_contents"] == 100
    # dedup'd data section stores the ocean blob once
    assert h["tile_data"][1] == sum(len(p) for p in set(payloads))
    assert h["tile_data"][1] < hp["tile_data"][1]

    for p in (p_dedup, p_plain):
        back = {(r.z, r.x, r.y): bytes(r.bytes) for r in read_pmtiles(spark, p).collect()}
        want = {
            (int(z), int(x), int(y)): pl for z, x, y, pl in zip(zs, xs, ys, payloads)
        }
        assert back == want


def test_read_foreign_compression_enums(spark, tmp_path):
    """Spec-valid foreign archives may store directories uncompressed and
    tiles gzipped (the tippecanoe default for mvt); the reader must honor
    the header enums instead of assuming the engine's own layout."""
    import numpy as np
    import pandas as pd

    from versatiles_rs_spark import tile_math as tm
    from versatiles_rs_spark.sources.pmtiles import _COMPRESSION, read_pmtiles_metadata

    blob = b"raw-tile-payload-0123456789"
    tids = [5, 6, 9]
    zs, xs, ys = tm.hilbert_decode(np.array(tids, dtype=np.int64))
    pdf = pd.DataFrame(
        {"z": zs, "x": xs, "y": ys, "bytes": [blob + bytes([i]) for i in range(3)]}
    )
    df = spark.createDataFrame(pdf, schema="z int, x long, y long, bytes binary")
    p = str(tmp_path / "foreign.pmtiles")
    write_pmtiles(df, p, metadata={"name": "foreign"})

    # rewrite: plain (uncompressed) directories + metadata, gzipped tiles
    raw = open(p, "rb").read()
    h = read_pmtiles_header(p)
    entries = deserialize_entries(
        gzip.decompress(raw[h["root_dir"][0] : sum(h["root_dir"])])
    )
    gz_tiles, new_entries, off = [], [], 0
    t0 = h["tile_data"][0]
    for tid, toff, tlen, rl in entries:
        gz = gzip.compress(raw[t0 + toff : t0 + toff + tlen], 6, mtime=0)
        new_entries.append((tid, off, len(gz), rl))
        gz_tiles.append(gz)
        off += len(gz)
    meta_plain = b'{"name": "foreign"}'
    root_plain = serialize_entries(new_entries)
    assert len(root_plain) <= 16384 - HEADER_LEN
    hdr = bytearray(raw[:HEADER_LEN])
    nm = 16384
    nt = nm + len(meta_plain)
    tile_blob = b"".join(gz_tiles)
    nl = nt + len(tile_blob)
    struct.pack_into(
        "<8Q", hdr, 8,
        HEADER_LEN, len(root_plain), nm, len(meta_plain), nl, 0, nt, len(tile_blob),
    )
    comp_pos = 8 + 11 * 8 + 1  # clustered byte, then internal, then tile enum
    hdr[comp_pos] = _COMPRESSION["none"]
    hdr[comp_pos + 1] = _COMPRESSION["gzip"]
    open(p, "wb").write(
        bytes(hdr)
        + root_plain
        + b"\x00" * (16384 - HEADER_LEN - len(root_plain))
        + meta_plain
        + tile_blob
    )

    assert read_pmtiles_metadata(p) == {"name": "foreign"}
    # tiles come back AS STORED (mbtiles-parity convention); the header's
    # tile_compression tells callers how to interpret them
    assert read_pmtiles_header(p)["tile_compression"] == _COMPRESSION["gzip"]
    got = {
        (r.z, r.x, r.y): gzip.decompress(bytes(r.bytes))
        for r in read_pmtiles(spark, p).collect()
    }
    want = {
        (int(z), int(x), int(y)): blob + bytes([i])
        for i, (z, x, y) in enumerate(zip(zs, xs, ys))
    }
    assert got == want


# -- point lookup (open_pmtiles_lookup) against the scan reader -------------


def _scan(spark, path):
    return {(r.z, r.x, r.y): bytes(r.bytes) for r in read_pmtiles(spark, path).collect()}


def _gz(b):
    return gzip.compress(b, 6, mtime=0)


def _raw_archive(path, root, tile_data, leaves=b"", internal="gzip", tile="none"):
    """Hand-built spec-valid archive: `root` directory entries, already
    encoded leaf-directory bytes and tile data, with the given compression
    enums (the layouts foreign writers produce and ours does not)."""
    from versatiles_rs_spark.sources.pmtiles import _COMPRESSION

    pack = _gz if internal == "gzip" else bytes
    root_b, meta = pack(serialize_entries(root)), pack(b"{}")
    m0 = HEADER_LEN + len(root_b)
    l0 = m0 + len(meta)
    t0 = l0 + len(leaves)
    hdr = b"PMTiles\x03" + struct.pack(
        "<11Q", HEADER_LEN, len(root_b), m0, len(meta), l0, len(leaves), t0,
        len(tile_data), 0, 0, 0,
    )
    hdr += bytes([1, _COMPRESSION[internal], _COMPRESSION[tile], 0, 0, 31]) + bytes(25)
    assert len(hdr) == HEADER_LEN
    with open(path, "wb") as f:
        f.write(hdr + root_b + meta + leaves + tile_data)


def test_lookup_parity_leaf_split(spark, tmp_path, check_lookup):
    import numpy as np

    from versatiles_rs_spark.sources.pmtiles import open_pmtiles_lookup

    rng = np.random.default_rng(42)
    rows = [
        (10, x, y, bytes([x % 251, y % 251]) * (1 + int(rng.integers(0, 300))))
        for x in range(200)
        for y in range(150)
    ]
    path = str(tmp_path / "leaves.pmtiles")
    write_pmtiles(spark.createDataFrame(rows, "z int, x long, y long, bytes binary"), path)
    assert read_pmtiles_header(path)["leaf_dirs"][1] > 0
    scan = _scan(spark, path)
    assert len(scan) == len(rows)
    check_lookup(scan, open_pmtiles_lookup(path))


def test_lookup_parity_run_length(spark, tmp_path, check_lookup):
    """One rl=3 entry addresses ids [5, 8); id 8 right after the run is a
    miss, not the run's payload."""
    from versatiles_rs_spark import tile_math as tm
    from versatiles_rs_spark.sources.pmtiles import open_pmtiles_lookup

    blob = b"\x89PNG-run-length-payload"
    path = str(tmp_path / "rl.pmtiles")
    _raw_archive(path, [(5, 0, len(blob), 3)], blob)
    scan = _scan(spark, path)
    assert len(scan) == 3
    lookup = open_pmtiles_lookup(path)
    check_lookup(scan, lookup)
    z, x, y = (int(v) for v in tm.hilbert_decode(8))
    assert lookup(z, x, y) is None


def test_lookup_parity_dedup_rle(spark, tmp_path, check_lookup):
    import numpy as np
    import pandas as pd

    from versatiles_rs_spark import tile_math as tm
    from versatiles_rs_spark.sources.pmtiles import open_pmtiles_lookup

    tids = np.arange(100, dtype=np.int64) + 1365
    zs, xs, ys = tm.hilbert_decode(tids)
    payloads = [b"\x89PNG-ocean" if (t // 10) % 2 == 0 else b"unique-%05d" % t for t in tids]
    df = spark.createDataFrame(
        pd.DataFrame({"z": zs, "x": xs, "y": ys, "bytes": payloads}),
        schema="z int, x long, y long, bytes binary",
    )
    for dedup in (True, False):
        path = str(tmp_path / f"d{int(dedup)}.pmtiles")
        write_pmtiles(df, path, dedup=dedup)
        scan = _scan(spark, path)
        assert len(scan) == 100
        check_lookup(scan, open_pmtiles_lookup(path))


def test_lookup_parity_foreign_compression_enums(spark, tmp_path, check_lookup):
    """Uncompressed directories, gzipped tiles: the lookup honours the
    internal enum and returns tiles as stored, like the scan."""
    from versatiles_rs_spark.sources.pmtiles import open_pmtiles_lookup

    blobs = [_gz(b"raw-tile-payload-%d" % i) for i in range(3)]
    offs = [0, len(blobs[0]), len(blobs[0]) + len(blobs[1])]
    root = [(tid, off, len(b), 1) for tid, off, b in zip((5, 6, 9), offs, blobs)]
    path = str(tmp_path / "foreign.pmtiles")
    _raw_archive(path, root, b"".join(blobs), internal="none", tile="gzip")
    scan = _scan(spark, path)
    assert len(scan) == 3
    check_lookup(scan, open_pmtiles_lookup(path))


def test_lookup_parity_nested_leaves(spark, tmp_path, check_lookup):
    """root -> leaf -> leaf: both readers follow rl=0 pointers inside leaf
    directories; a run may cross a zoom boundary (ids 20..21)."""
    from versatiles_rs_spark.sources.pmtiles import open_pmtiles_lookup

    tiles = {1: b"a", 2: b"bb", 3: b"ccc", 10: b"dddd", 11: b"eeeee", 20: b"run"}
    data, ents = b"", {}
    for tid, blob in tiles.items():
        ents[tid] = (tid, len(data), len(blob), 2 if tid == 20 else 1)
        data += blob
    inner1 = _gz(serialize_entries([ents[1], ents[2], ents[3]]))
    inner2 = _gz(serialize_entries([ents[10], ents[11]]))
    inner3 = _gz(serialize_entries([ents[20]]))
    o2 = len(inner1)
    o3 = o2 + len(inner2)
    mid = _gz(serialize_entries([(1, 0, len(inner1), 0), (10, o2, len(inner2), 0)]))
    om = o3 + len(inner3)
    leaves = inner1 + inner2 + inner3 + mid
    root = [(1, om, len(mid), 0), (20, o3, len(inner3), 0)]
    path = str(tmp_path / "nested.pmtiles")
    _raw_archive(path, root, data, leaves=leaves)
    scan = _scan(spark, path)
    assert len(scan) == 7  # ids 1, 2, 3, 10, 11 and the run 20, 21
    check_lookup(scan, open_pmtiles_lookup(path))


def test_lookup_rejects_cyclic_leaf_pointer(tmp_path):
    """A leaf directory that points at itself is a malformed archive: the
    lookup stops at the depth cap with an error instead of looping."""
    from versatiles_rs_spark.sources.pmtiles import open_pmtiles_lookup

    leaf = _gz(serialize_entries([(0, 0, 0, 0)]))
    leaf = _gz(serialize_entries([(0, 0, len(leaf), 0)]))
    assert deserialize_entries(gzip.decompress(leaf)) == [(0, 0, len(leaf), 0)]
    path = str(tmp_path / "cyclic.pmtiles")
    _raw_archive(path, [(0, 0, len(leaf), 0)], b"", leaves=leaf)
    with pytest.raises(ValueError, match="nested deeper"):
        open_pmtiles_lookup(path)(0, 0, 0)


def test_aborted_write_leaves_no_file(spark, tiles, tmp_path):
    path = tmp_path / "abort.pmtiles"
    with pytest.raises(ValueError, match="duplicate tile id"):
        write_pmtiles(tiles.unionByName(tiles.limit(1)), str(path))
    assert not path.exists()
