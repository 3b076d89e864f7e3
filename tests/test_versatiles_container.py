"""`.versatiles` container tests: header goldens transcribed from the
reference's own unit tests (types/file_header.rs:254-288), round-trips, and
the brotli ctypes codec validated against reference-produced streams."""

import io
import struct
import tarfile

import pandas as pd
import pytest

from versatiles_rs_spark.codecs import HAS_BROTLI, compress_blob, decompress_blob

pytestmark = pytest.mark.skipif(not HAS_BROTLI, reason="libbrotli absent")


def test_brotli_decodes_reference_stream():
    """static.tar.br was produced by the reference toolchain — decoding it
    proves spec compliance, not just self round-trip."""
    raw = decompress_blob(open("/root/reference/testdata/static.tar.br", "rb").read(), "brotli")
    names = tarfile.open(fileobj=io.BytesIO(raw)).getnames()
    assert "index.html" in names and "style.css" in names


def test_brotli_roundtrip():
    data = b"versatiles block index " * 500
    enc = compress_blob(data, "brotli")
    assert len(enc) < len(data) // 10
    assert decompress_blob(enc, "brotli") == data


def test_header_golden_file_header_rs():
    """file_header.rs:254-288 'to_blob' golden: MVT + Gzip + zoom [3,8] +
    bbox (-180, -85.05113, 180, 85.05113)."""
    from versatiles_rs_spark.sources.versatiles import (
        HEADER_LEN,
        _header_blob,
        read_versatiles_header,
    )

    blob = _header_blob(
        "mvt", "gzip", (3, 8), (-180.0, -85.05113, 180.0, 85.05113), (0, 0), (0, 0)
    )
    assert len(blob) == HEADER_LEN
    assert blob[:14] == b"versatiles_v02"
    assert blob[14] == 0x20 and blob[15] == 1
    assert blob[16] == 3 and blob[17] == 8
    assert struct.unpack_from(">iiii", blob, 18) == (
        -1800000000, -850511300, 1800000000, 850511300,
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        p = os.path.join(d, "h.versatiles")
        open(p, "wb").write(blob)
        h = read_versatiles_header(p)
    assert h["tile_format"] == "mvt" and h["compression"] == "gzip"
    assert h["zoom_range"] == (3, 8)
    assert abs(h["bbox"][1] + 85.05113) < 1e-6


def test_versatiles_roundtrip(spark, tmp_path):
    from versatiles_rs_spark.sources.versatiles import (
        read_versatiles,
        read_versatiles_metadata,
        write_versatiles,
    )

    # multi-zoom, sparse coverage incl. a tile past the 256 block boundary
    tiles = [(2, 1, 2), (5, 3, 7), (5, 4, 7), (9, 300, 258), (9, 301, 258)]
    pdf = pd.DataFrame(
        [(z, x, y, f"tile-{z}/{x}/{y}".encode()) for z, x, y in tiles],
        columns=["z", "x", "y", "bytes"],
    )
    df = spark.createDataFrame(pdf, schema="z int, x long, y long, bytes binary")
    p = str(tmp_path / "t.versatiles")
    n = write_versatiles(df, p, metadata={"name": "rt"}, tile_type="bin")
    assert n == len(tiles)
    got = sorted(
        (r.z, r.x, r.y, bytes(r.bytes)) for r in read_versatiles(spark, p).collect()
    )
    want = sorted((z, x, y, f"tile-{z}/{x}/{y}".encode()) for z, x, y in tiles)
    assert got == want
    assert read_versatiles_metadata(p)["name"] == "rt"


def test_versatiles_small_blob_dedup(spark, tmp_path):
    """block_writer.rs:36-43: identical blobs under 1000 bytes share one
    range — the file must contain the payload once per block."""
    from versatiles_rs_spark.sources.versatiles import write_versatiles

    blob = b"same-payload" * 10
    pdf = pd.DataFrame(
        [(3, x, 1, blob) for x in range(6)], columns=["z", "x", "y", "bytes"]
    )
    df = spark.createDataFrame(pdf, schema="z int, x long, y long, bytes binary")
    p = str(tmp_path / "d.versatiles")
    write_versatiles(df, p, tile_type="bin")
    data = open(p, "rb").read()
    assert data.count(blob) == 1
    # and it still reads back as 6 tiles
    from versatiles_rs_spark.sources.versatiles import read_versatiles

    assert read_versatiles(spark, p).count() == 6


def test_versatiles_gzip_payload_compression(spark, tmp_path):
    """Header compression flag declares the payload codec (pass-through)."""
    import gzip

    from versatiles_rs_spark.sources.versatiles import (
        read_versatiles,
        read_versatiles_header,
        write_versatiles,
    )

    payload = gzip.compress(b"mvt-ish bytes", mtime=0)
    df = spark.createDataFrame(
        pd.DataFrame([(4, 2, 3, payload)], columns=["z", "x", "y", "bytes"]),
        schema="z int, x long, y long, bytes binary",
    )
    p = str(tmp_path / "c.versatiles")
    write_versatiles(df, p, tile_type="mvt", compression="gzip")
    assert read_versatiles_header(p)["compression"] == "gzip"
    row = read_versatiles(spark, p).collect()[0]
    assert gzip.decompress(bytes(row.bytes)) == b"mvt-ish bytes"


# -- point lookup (open_versatiles_lookup) against the scan reader ----------


def _lookup_parity(spark, rows, check_lookup, tmp_path, **write_kw):
    from versatiles_rs_spark.sources.versatiles import (
        open_versatiles_lookup,
        read_versatiles,
        write_versatiles,
    )

    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "x", "y", "bytes"]),
        schema="z int, x long, y long, bytes binary",
    )
    p = str(tmp_path / "l.versatiles")
    write_versatiles(df, p, **write_kw)
    scan = {(r.z, r.x, r.y): bytes(r.bytes) for r in read_versatiles(spark, p).collect()}
    assert len(scan) == len(rows)
    check_lookup(scan, open_versatiles_lookup(p))


def test_lookup_parity_roundtrip(spark, tmp_path, check_lookup):
    """Multi-zoom, sparse blocks, tiles on both sides of a 256 block edge;
    the holes inside a block's coverage bbox are length-0 slots (misses)."""
    tiles = [(2, 1, 2), (5, 3, 7), (5, 4, 7), (9, 255, 258), (9, 300, 258), (9, 301, 260)]
    rows = [(z, x, y, f"tile-{z}/{x}/{y}".encode()) for z, x, y in tiles]
    _lookup_parity(spark, rows, check_lookup, tmp_path, tile_type="bin")


def test_lookup_parity_small_blob_dedup(spark, tmp_path, check_lookup):
    rows = [(3, x, 1, b"same-payload" * 10) for x in range(6)]
    _lookup_parity(spark, rows, check_lookup, tmp_path, tile_type="bin")


def test_lookup_parity_gzip_payloads(spark, tmp_path, check_lookup):
    import gzip

    rows = [(4, x, 3, gzip.compress(b"mvt-ish bytes %d" % x, mtime=0)) for x in (2, 5)]
    _lookup_parity(spark, rows, check_lookup, tmp_path, tile_type="mvt", compression="gzip")
