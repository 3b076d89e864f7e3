"""PMTiles v3 container support (real format, stdlib only).

Parity: /root/reference/versatiles_container/src/container/pmtiles/
(writer.rs + types/header_v3.rs + types/entries_v3.rs) and the public
PMTiles v3 spec:

- 127-byte little-endian header: "PMTiles"+version(3), 8 u64 byte-ranges
  (root dir, metadata, leaf dirs, tile data), 3 u64 counts, clustered flag,
  internal/tile compression enums (1=none 2=gzip), tile type enum
  (1=mvt 2=png 3=jpeg 4=webp), zoom bounds, e7-scaled bbox/center.
- varint directories: entry count, tile-id deltas, run lengths, lengths,
  offsets (0 = contiguous with previous, else offset+1). run_length=0 marks
  a leaf-directory pointer.
- root directory must fit in 16384-127 bytes (gzip'd); overflow splits into
  leaf directories appended after the tile data.
- tile ids are the Hilbert index the engine already computes
  (tile_math.hilbert_index — golden-tested against the reference).

Single-file edge format: export STREAMS Hilbert-sorted tiles through
toLocalIterator (one partition of payload on the driver at a time — no
tile-count cap); the strict-increasing-id invariant of the reference
writer (writer.rs:201-206) is asserted on the fly.
"""

from __future__ import annotations

import gzip
import json
import os
import struct

from pyspark.sql import DataFrame, SparkSession

HEADER_LEN = 127
ROOT_SPACE = 16384 - HEADER_LEN
_COMPRESSION = {"none": 1, "gzip": 2, "brotli": 3}
_TILE_TYPE = {"unknown": 0, "mvt": 1, "png": 2, "jpg": 3, "jpeg": 3, "webp": 4, "avif": 5}
_TYPE_NAME = {v: k for k, v in _TILE_TYPE.items() if k != "jpeg"}
# parsed leaf directories kept per open lookup reader
_LEAF_CACHE_SIZE = 64
# root plus nested leaf levels (the spec allows at most three)
_MAX_DIR_DEPTH = 4


def _write_varint(out: bytearray, v: int) -> None:
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = v = 0
    while True:
        b = buf[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return v, pos
        shift += 7


def serialize_entries(entries: list[tuple[int, int, int, int]]) -> bytes:
    """entries: (tile_id, offset, length, run_length) — entries_v3.rs:262-299."""
    out = bytearray()
    _write_varint(out, len(entries))
    last = 0
    for tid, _, _, _ in entries:
        _write_varint(out, tid - last)
        last = tid
    for _, _, _, rl in entries:
        _write_varint(out, rl)
    for _, _, ln, _ in entries:
        _write_varint(out, ln)
    for i, (_, off, ln, _) in enumerate(entries):
        if i > 0 and off == entries[i - 1][1] + entries[i - 1][2]:
            _write_varint(out, 0)
        else:
            _write_varint(out, off + 1)
    return bytes(out)


def deserialize_entries(buf: bytes) -> list[tuple[int, int, int, int]]:
    n, pos = _read_varint(buf, 0)
    ids, rls, lens, offs = [], [], [], []
    last = 0
    for _ in range(n):
        d, pos = _read_varint(buf, pos)
        last += d
        ids.append(last)
    for _ in range(n):
        v, pos = _read_varint(buf, pos)
        rls.append(v)
    for _ in range(n):
        v, pos = _read_varint(buf, pos)
        lens.append(v)
    for i in range(n):
        v, pos = _read_varint(buf, pos)
        if v == 0:
            offs.append(offs[i - 1] + lens[i - 1])
        else:
            offs.append(v - 1)
    return list(zip(ids, offs, lens, rls))


def _build_directories(entries) -> tuple[bytes, bytes]:
    """root_bytes (gzip), leaves_bytes — entries_v3.rs::as_directory."""
    root = gzip.compress(serialize_entries(entries), 6, mtime=0)
    if len(root) <= ROOT_SPACE:
        return root, b""
    leaf_size = 4096
    while True:
        leaves = bytearray()
        root_entries = []
        for i in range(0, len(entries), leaf_size):
            chunk = entries[i : i + leaf_size]
            ser = gzip.compress(serialize_entries(chunk), 6, mtime=0)
            root_entries.append((chunk[0][0], len(leaves), len(ser), 0))  # rl=0 -> leaf
            leaves.extend(ser)
        root = gzip.compress(serialize_entries(root_entries), 6, mtime=0)
        if len(root) <= ROOT_SPACE:
            return root, bytes(leaves)
        leaf_size *= 2


def write_pmtiles(
    df: DataFrame,
    path: str,
    metadata: dict | None = None,
    payload: str = "bytes",
    tile_type: str = "png",
    dedup: bool = True,
    max_dedup_blobs: int = 4_000_000,
) -> int:
    """Export a tile DataFrame as a PMTiles v3 archive. Returns tiles written.

    STREAMING single-file export: tiles are Hilbert-keyed in the executors
    (udfs.with_hilbert), range-partitioned and sorted on the id, and pulled
    through `toLocalIterator` one partition at a time — driver memory holds
    one partition of payload plus the slim directory entries, so the old
    2M-tile collect cap is gone (a 10M-tile archive streams in constant
    payload memory).  The data section streams straight to `path`: PMTiles
    fixes metadata at offset 16384, so every leading offset is known up
    front and the header/root/metadata region is seeked back and patched
    after the last tile.  Strict-increasing ids asserted on the fly
    (writer.rs:201-206).

    `dedup=True` (default) applies the two PMTiles v3 spec compressions the
    reference writer leaves on the table (writer.rs:140-142 sets all three
    header counts equal — no dedup, EntriesV3::push never merges runs):
    identical payloads share one data-section blob (content addressing,
    bounded by `max_dedup_blobs` distinct contents so the address map
    cannot outgrow the driver), and consecutive Hilbert ids with identical
    content collapse into one run-length entry. Our reader (and the spec's
    find_tile) already resolves rl>1 and shared offsets; the header then
    reports addressed_tiles >= tile_entries >= tile_contents honestly."""
    import numpy as np
    from pyspark.sql import functions as F

    from .. import tile_math as tm
    from .. import udfs

    # slim pre-pass: per-zoom extents -> zoom range + e7 bbox (one agg job
    # over the key columns; the payload column is pruned from the scan)
    zstats = df.groupBy("z").agg(
        F.min("x").alias("x0"), F.max("x").alias("x1"),
        F.min("y").alias("y0"), F.max("y").alias("y1"),
    ).collect()
    zs = sorted(int(r["z"]) for r in zstats)
    if zstats:
        min_lon = max_lon = min_lat = max_lat = None
        for r in zstats:
            z = int(r["z"])
            xs = np.array([int(r["x0"]), int(r["x1"])], dtype=np.int64)
            ys = np.array([int(r["y0"]), int(r["y1"])], dtype=np.int64)
            w, s_, e, n = tm.tile_to_geo_bbox(z, xs, ys)
            lo_x, hi_x = float(w.min()), float(e.max())
            lo_y, hi_y = float(s_.min()), float(n.max())
            min_lon = lo_x if min_lon is None else min(min_lon, lo_x)
            max_lon = hi_x if max_lon is None else max(max_lon, hi_x)
            min_lat = lo_y if min_lat is None else min(min_lat, lo_y)
            max_lat = hi_y if max_lat is None else max(max_lat, hi_y)
    else:
        min_lon = max_lon = min_lat = max_lat = 0.0

    meta_blob = gzip.compress(
        json.dumps(metadata or {"name": "spark-tiles"}).encode(), 6, mtime=0
    )
    metadata_off = 16384
    tile_data_off = metadata_off + len(meta_blob)

    ordered = (
        udfs.with_hilbert(
            df.select(
                F.col("z").cast("long").alias("z"),
                F.col("x").cast("long").alias("x"),
                F.col("y").cast("long").alias("y"),
                F.col(payload).alias("_payload"),
            )
        )
        .repartitionByRange("hilbert")
        .sortWithinPartitions("hilbert")
        .select("hilbert", "_payload")
    )

    entries: list[list[int]] = []  # [tid, off, ln, rl], mutable for RLE merge
    blob_off: dict[bytes, int] = {}
    n_contents = 0
    data_len = 0
    last_tid = -1
    f = open(path, "wb")
    try:
        with f:
            f.seek(tile_data_off)
            for row in ordered.toLocalIterator(prefetchPartitions=True):
                tid = int(row["hilbert"])
                if tid <= last_tid:  # strict-increasing ids (writer.rs:201-206)
                    raise ValueError(
                        f"duplicate tile id {tid} — one payload per (z,x,y) required"
                    )
                last_tid = tid
                blob = bytes(row["_payload"])
                ln = len(blob)
                off = blob_off.get(blob) if dedup else None
                if off is None:
                    off = data_len
                    f.write(blob)
                    data_len += ln
                    n_contents += 1
                    if dedup and len(blob_off) < max_dedup_blobs:
                        blob_off[blob] = off
                if (
                    dedup
                    and entries
                    and entries[-1][0] + entries[-1][3] == tid
                    and entries[-1][1] == off
                    and entries[-1][2] == ln
                ):
                    entries[-1][3] += 1
                else:
                    entries.append([tid, off, ln, 1])

            leaf_off = tile_data_off + data_len
            ents = [tuple(e) for e in entries]
            n_addressed = sum(e[3] for e in ents)
            root_bytes, leaves_bytes = _build_directories(ents)
            f.write(leaves_bytes)

            header = bytearray()
            header += b"PMTiles" + bytes([3])
            for off, ln in (
                (HEADER_LEN, len(root_bytes)),
                (metadata_off, len(meta_blob)),
                (leaf_off, len(leaves_bytes)),
                (tile_data_off, data_len),
            ):
                header += struct.pack("<QQ", off, ln)
            header += struct.pack("<QQQ", n_addressed, len(ents), n_contents)
            header += bytes(
                [
                    1,  # clustered (ids written in increasing order, contiguous data)
                    _COMPRESSION["gzip"],  # internal compression
                    _COMPRESSION["none"],  # tile compression (payloads stored raw)
                    _TILE_TYPE.get(tile_type, 0),
                    zs[0] if zs else 0,
                    zs[-1] if zs else 0,
                ]
            )
            header += struct.pack(
                "<iiii",
                int(min_lon * 1e7),
                int(min_lat * 1e7),
                int(max_lon * 1e7),
                int(max_lat * 1e7),
            )
            header += bytes([zs[0] if zs else 0])
            header += struct.pack(
                "<ii", int((min_lon + max_lon) * 5e6), int((min_lat + max_lat) * 5e6)
            )
            assert len(header) == HEADER_LEN, len(header)

            f.seek(0)
            f.write(header)
            f.write(root_bytes)
            f.write(b"\x00" * (16384 - HEADER_LEN - len(root_bytes)))
            f.write(meta_blob)
    except BaseException:
        # an aborted export (duplicate id, failed job, interrupt) must
        # not leave a partial archive that looks like a real one
        os.remove(path)
        raise
    return n_addressed


def read_pmtiles_header(path: str) -> dict:
    from ..remote import open_range_reader

    buf = open_range_reader(path).read(0, HEADER_LEN)
    return parse_pmtiles_header(buf)


def parse_pmtiles_header(buf: bytes) -> dict:
    if buf[:7] != b"PMTiles" or buf[7] != 3:
        raise ValueError("not a PMTiles v3 archive")
    vals = struct.unpack_from("<8Q3Q", buf, 8)
    pos = 8 + 11 * 8
    clustered, internal_c, tile_c, tile_t, min_z, max_z = buf[pos : pos + 6]
    pos += 6
    bbox = struct.unpack_from("<iiii", buf, pos)
    return {
        "root_dir": (vals[0], vals[1]),
        "metadata": (vals[2], vals[3]),
        "leaf_dirs": (vals[4], vals[5]),
        "tile_data": (vals[6], vals[7]),
        "addressed_tiles": vals[8],
        "tile_entries": vals[9],
        "tile_contents": vals[10],
        "clustered": bool(clustered),
        "internal_compression": internal_c,
        "tile_compression": tile_c,
        "tile_type": _TYPE_NAME.get(tile_t, "unknown"),
        "min_zoom": min_z,
        "max_zoom": max_z,
        "bounds_e7": bbox,
    }


def read_pmtiles(spark: SparkSession, path: str) -> DataFrame:
    """Scan a PMTiles archive back into an XYZ tile DataFrame — DISTRIBUTED:
    the driver fetches only the 127-byte header and the (<=16 KB) root
    directory; leaf-directory parsing and tile-data range reads happen in
    the executors (one work item per root entry, so a planet archive with
    thousands of leaves fans out across the cluster).  `path` may be a
    local file or an http(s):// URL — executors open their own range
    readers (data_reader_http.rs:91-98 parity).  No tile-count cap: payload
    bytes never pass through the driver."""
    import pandas as pd

    from ..remote import open_range_reader

    rd = open_range_reader(path)
    h = parse_pmtiles_header(rd.read(0, HEADER_LEN))
    root = deserialize_entries(
        _decompress_section(rd.read(*h["root_dir"]), h["internal_compression"], "internal")
    )
    # work items: leaf pointers (rl == 0) parse + read in the executor;
    # direct runs read immediately.  Root fits ROOT_SPACE by spec, so this
    # driver-side list is bounded at a few thousand rows regardless of
    # archive size.
    work = pd.DataFrame(root, columns=["tid", "off", "ln", "rl"])
    if not len(work):
        return spark.createDataFrame([], "z int, x long, y long, bytes binary")
    leaf0 = int(h["leaf_dirs"][0])
    data0 = int(h["tile_data"][0])
    internal_c = int(h["internal_compression"])
    n_parts = min(len(work), max(1, spark.sparkContext.defaultParallelism))

    def gen(batches):
        from .. import tile_math as tm
        import numpy as np

        rdr = open_range_reader(path)

        def emit(entries):
            tids, blobs = [], []
            for tid, off, ln, rl in entries:
                blob = rdr.read(data0 + int(off), int(ln))
                for t in range(int(tid), int(tid) + max(int(rl), 1)):
                    tids.append(t)
                    blobs.append(blob)
            if not tids:
                return None
            zs, xs, ys = tm.hilbert_decode(np.array(tids, dtype=np.int64))
            return pd.DataFrame(
                {"z": zs.astype("int32"), "x": xs, "y": ys, "bytes": blobs}
            )

        def leaf_batches(off, ln):
            """One batch per leaf directory; nested leaf pointers recurse."""
            leaf = deserialize_entries(
                _decompress_section(rdr.read(leaf0 + int(off), int(ln)), internal_c, "internal")
            )
            yield emit([e for e in leaf if e[3]])
            for _, off2, ln2, rl in leaf:
                if rl == 0:
                    yield from leaf_batches(off2, ln2)

        for pdf in batches:
            direct = []
            for tid, off, ln, rl in zip(pdf["tid"], pdf["off"], pdf["ln"], pdf["rl"]):
                if int(rl) == 0:  # leaf pointer: parse the leaf here
                    for out in leaf_batches(off, ln):
                        if out is not None:
                            yield out
                else:
                    direct.append((tid, off, ln, rl))
            out = emit(direct)
            if out is not None:
                yield out

    return (
        spark.createDataFrame(work)
        .repartitionByRange(n_parts, "tid")
        .mapInPandas(gen, schema="z int, x long, y long, bytes binary")
    )


def open_pmtiles_lookup(path: str):
    """Point-lookup reader: `lookup(z, x, y) -> bytes | None` with no Spark
    work — the serve path's reader.get_tile.  Header and root directory
    are parsed once here; a lookup bisects the directory entries on the
    Hilbert id, follows leaf pointers (rl == 0, nested leaves included)
    through a bounded LRU of parsed leaves, and does one range read of the
    tile.  `path` may be an http(s):// URL.  Safe to call from many
    threads at once."""
    import bisect
    import functools

    from .. import tile_math as tm
    from ..remote import open_range_reader

    rd = open_range_reader(path)
    h = parse_pmtiles_header(rd.read(0, HEADER_LEN))
    internal_c = int(h["internal_compression"])
    leaf0 = int(h["leaf_dirs"][0])
    data0 = int(h["tile_data"][0])

    def parse(buf: bytes):
        entries = deserialize_entries(_decompress_section(buf, internal_c, "internal"))
        return [e[0] for e in entries], entries

    root = parse(rd.read(*h["root_dir"]))

    @functools.lru_cache(maxsize=_LEAF_CACHE_SIZE)
    def leaf(off: int, ln: int):
        return parse(rd.read(leaf0 + off, ln))

    def lookup(z: int, x: int, y: int) -> bytes | None:
        if not tm.in_pyramid(z, x, y):
            return None
        tid = int(tm.hilbert_index(z, x, y))
        ids, entries = root
        for _ in range(_MAX_DIR_DEPTH):
            i = bisect.bisect_right(ids, tid) - 1
            if i < 0:
                return None
            first, off, ln, rl = entries[i]
            if rl == 0:  # leaf pointer covering [first, next entry's id)
                ids, entries = leaf(off, ln)
            elif tid < first + rl:  # run: [first, first + rl) share one blob
                return rd.read(data0 + off, ln)
            else:
                return None
        raise ValueError(f"PMTiles leaf directories nested deeper than {_MAX_DIR_DEPTH}")

    return lookup


_COMP_NAME = {v: k for k, v in _COMPRESSION.items()}


def _decompress_section(data: bytes, enum: int, what: str) -> bytes:
    """Honor the header's compression enums (header_v3.rs semantics): the
    engine writes internal=gzip/tile=none, but spec-valid foreign archives
    may use none/gzip/brotli for either section."""
    if enum == _COMPRESSION["none"]:
        return data
    name = _COMP_NAME.get(enum)
    if name is None:
        raise ValueError(f"unsupported PMTiles {what} compression enum {enum}")
    from ..codecs import decompress_blob

    return decompress_blob(data, name)


def read_pmtiles_metadata(path: str) -> dict:
    from ..remote import open_range_reader

    rd = open_range_reader(path)
    h = parse_pmtiles_header(rd.read(0, HEADER_LEN))
    return json.loads(
        _decompress_section(rd.read(*h["metadata"]), h["internal_compression"], "internal")
    )
