"""Remote HTTP range source + serve shim tests (data_reader_http.rs:91-98,
tile_server.rs:54 / routes.rs:14-22 parity)."""

import gzip
import json
import urllib.request

import pandas as pd
import pytest


@pytest.fixture()
def tile_df(spark):
    tiles = [(3, x, y, f"t{3}/{x}/{y}".encode() * 20) for x in range(4) for y in range(2)]
    pdf = pd.DataFrame(tiles, columns=["z", "x", "y", "bytes"])
    return spark.createDataFrame(pdf, schema="z int, x long, y long, bytes binary")


def test_http_range_reader_reads_ranges(tmp_path):
    from versatiles_rs_spark.remote import HttpRangeReader, start_range_server

    p = tmp_path / "blob.bin"
    data = bytes(range(256)) * 100
    p.write_bytes(data)
    srv, base = start_range_server(str(tmp_path))
    try:
        rd = HttpRangeReader(f"{base}/blob.bin")
        assert rd.size == len(data)
        assert rd.read(0, 10) == data[:10]
        assert rd.read(1000, 17) == data[1000:1017]
        assert rd.read(len(data) - 5, 5) == data[-5:]
    finally:
        srv.shutdown()


def test_read_pmtiles_over_http(spark, tile_df, tmp_path):
    from versatiles_rs_spark.remote import start_range_server
    from versatiles_rs_spark.sources.pmtiles import read_pmtiles, write_pmtiles

    p = str(tmp_path / "t.pmtiles")
    write_pmtiles(tile_df, p)
    srv, base = start_range_server(str(tmp_path))
    try:
        local = sorted((r.z, r.x, r.y, bytes(r.bytes)) for r in read_pmtiles(spark, p).collect())
        remote = sorted(
            (r.z, r.x, r.y, bytes(r.bytes))
            for r in read_pmtiles(spark, f"{base}/t.pmtiles").collect()
        )
        assert remote == local and len(remote) == 8
    finally:
        srv.shutdown()


def test_read_versatiles_over_http(spark, tile_df, tmp_path):
    from versatiles_rs_spark.remote import start_range_server
    from versatiles_rs_spark.sources.versatiles import read_versatiles, write_versatiles

    p = str(tmp_path / "t.versatiles")
    write_versatiles(tile_df, p, tile_type="bin")
    srv, base = start_range_server(str(tmp_path))
    try:
        remote = sorted(
            (r.z, r.x, r.y, bytes(r.bytes))
            for r in read_versatiles(spark, f"{base}/t.versatiles").collect()
        )
        local = sorted((r.z, r.x, r.y, bytes(r.bytes)) for r in read_versatiles(spark, p).collect())
        assert remote == local and len(remote) == 8
    finally:
        srv.shutdown()


def _get(url, headers=None):
    req = urllib.request.Request(url, headers=headers or {})
    with urllib.request.urlopen(req) as r:
        return r.status, dict(r.headers), r.read()


def test_serve_tiles_routes(spark, tile_df):
    from versatiles_rs_spark.server import serve_tiles

    srv, base = serve_tiles(tile_df, tile_fmt="bin")
    try:
        # point lookup route (routes.rs:14-22)
        st, hdrs, body = _get(f"{base}/tiles/3/1/0")
        assert st == 200 and body == b"t3/1/0" * 20
        # extension form + 404
        st2, _, body2 = _get(f"{base}/tiles/3/1/0.bin")
        assert st2 == 200 and body2 == body
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{base}/tiles/9/9/9")
        assert ei.value.code == 404
        # tilejson
        st3, _, meta = _get(f"{base}/tiles.json")
        tj = json.loads(meta)
        assert st3 == 200 and tj["minzoom"] == 3 and tj["maxzoom"] == 3
    finally:
        srv.shutdown()


def test_serve_accept_encoding_negotiation(spark, tile_df):
    """server/encoding.rs: gzip/brotli negotiated via Accept-Encoding."""
    from versatiles_rs_spark.codecs import HAS_BROTLI, decompress_blob
    from versatiles_rs_spark.server import serve_tiles

    srv, base = serve_tiles(tile_df, tile_fmt="bin")
    want = b"t3/0/0" * 20
    try:
        _, hdrs, body = _get(f"{base}/tiles/3/0/0", {"Accept-Encoding": "gzip"})
        assert hdrs.get("Content-Encoding") == "gzip"
        assert gzip.decompress(body) == want
        if HAS_BROTLI:
            _, hdrs2, body2 = _get(f"{base}/tiles/3/0/0", {"Accept-Encoding": "br, gzip"})
            assert hdrs2.get("Content-Encoding") == "br"
            assert decompress_blob(body2, "brotli") == want
        _, hdrs3, body3 = _get(f"{base}/tiles/3/0/0", {"Accept-Encoding": "identity"})
        assert hdrs3.get("Content-Encoding") is None and body3 == want
    finally:
        srv.shutdown()


def test_serve_threads_stored_container_compression(spark, tmp_path):
    """server/encoding.rs parity: a gzip-STORED tile (mbtiles pbf convention)
    must be served as-is to a gzip-accepting client (Content-Encoding: gzip,
    single layer) and transparently DECOMPRESSED for identity clients —
    never brotli'd on top of the stored gzip layer."""
    import pandas as pd

    from versatiles_rs_spark.codecs import HAS_BROTLI, decompress_blob
    from versatiles_rs_spark.server import _load_tile_source, serve_tiles
    from versatiles_rs_spark.sources.mbtiles import write_mbtiles

    raw = b"not-really-mvt-but-distinct-bytes" * 30
    stored = gzip.compress(raw)
    df = spark.createDataFrame(
        pd.DataFrame([(2, 1, 1, stored)], columns=["z", "x", "y", "bytes"]),
        schema="z int, x long, y long, bytes binary",
    )
    p = str(tmp_path / "t.mbtiles")
    write_mbtiles(df, p, metadata={"format": "pbf"})

    loaded, codec, fmt = _load_tile_source(spark, p)
    assert codec == "gzip" and fmt == "mvt"
    srv, base = serve_tiles(loaded, tile_fmt="mvt", tile_codec=codec)
    try:
        # gzip client: stored layer passes through untouched, labeled gzip
        _, hdrs, body = _get(f"{base}/tiles/2/1/1", {"Accept-Encoding": "gzip"})
        assert hdrs.get("Content-Encoding") == "gzip"
        assert gzip.decompress(body) == raw
        # identity client: server decompresses the stored layer
        _, hdrs2, body2 = _get(f"{base}/tiles/2/1/1", {"Accept-Encoding": "identity"})
        assert hdrs2.get("Content-Encoding") is None and body2 == raw
        if HAS_BROTLI:
            # brotli-only client: recoded gzip->brotli, ONE layer (the r2
            # bug served brotli(gzip(raw)) labeled only br)
            _, hdrs3, body3 = _get(f"{base}/tiles/2/1/1", {"Accept-Encoding": "br"})
            assert hdrs3.get("Content-Encoding") == "br"
            assert decompress_blob(body3, "brotli") == raw
    finally:
        srv.shutdown()


def test_serve_static_tar_br(spark, tile_df):
    """Static-content mode from the reference's own brotli tar fixture."""
    import os

    from versatiles_rs_spark.codecs import HAS_BROTLI
    from versatiles_rs_spark.server import serve_tiles

    tarball = "/root/reference/testdata/static.tar.br"
    if not (HAS_BROTLI and os.path.exists(tarball)):
        pytest.skip("needs brotli + reference testdata")
    srv, base = serve_tiles(tile_df, static_tar=tarball)
    try:
        st, _, body = _get(f"{base}/static/index.html", {"Accept-Encoding": "identity"})
        assert st == 200 and b"<" in body
    finally:
        srv.shutdown()


def test_serve_from_reference_config(spark, tmp_path):
    """Consume the reference's OWN testdata/config1.yml verbatim: named tile
    sources (mbtiles + vpl pipeline; the remote .versatiles mount is skipped
    like a down mount), static tar mounts with url prefixes, CORS globs,
    extra response headers."""
    import os
    import shutil

    import pandas as pd

    from versatiles_rs_spark.codecs import HAS_BROTLI
    from versatiles_rs_spark.mvt_pbf import encode_mvt
    from versatiles_rs_spark.server import serve_from_config
    from versatiles_rs_spark.sources.mbtiles import write_mbtiles

    if not HAS_BROTLI:
        pytest.skip("brotli needed for static.tar.br mount")
    ref = "/root/reference/testdata"
    conf = tmp_path / "conf"
    td = tmp_path / "testdata"
    conf.mkdir(), td.mkdir()
    for f in ("config1.yml", "static.tar.br", "berlin.vpl", "cities.csv"):
        shutil.copy(f"{ref}/{f}", conf / f)
    shutil.copy(f"{ref}/static.tar.gz", td / "static.tar.gz")

    blob = encode_mvt(
        [{"name": "place_labels", "extent": 4096,
          "features": [{"id": 1, "type": 1, "geometry": [[(1, 2)]],
                        "props": {"name": "Berlin"}}]}]
    )
    df = spark.createDataFrame(
        pd.DataFrame([(3, 4, 2, blob)], columns=["z", "x", "y", "bytes"]),
        schema="z int, x long, y long, bytes binary",
    )
    write_mbtiles(df, str(conf / "berlin.mbtiles"))

    srv, base, skipped = serve_from_config(spark, str(conf / "config1.yml"))
    try:
        assert [n for n, _ in skipped] == ["osm"]  # remote mount down -> skipped
        st, hdrs, body = _get(f"{base}/tiles/berlin/3/4/2", {"Accept-Encoding": "identity"})
        assert st == 200 and bytes(body) == blob
        # extra headers from the config reach every response
        assert hdrs.get("Cache-Control") == "public, max-age=86400, immutable"
        assert hdrs.get("Surrogate-Control") == "max-age=604800"
        # the vpl source runs the berlin pipeline (CSV-joined payloads differ)
        st2, _, body2 = _get(f"{base}/tiles/pipeline/3/4/2", {"Accept-Encoding": "identity"})
        assert st2 == 200 and body2 != blob and len(body2) > len(blob)
        # tilejson per source
        st3, _, meta = _get(f"{base}/tiles/berlin/tiles.json")
        assert json.loads(meta)["maxzoom"] == 3
        # static mounts: tar.br at "/", tar.gz at "/whynot/"
        st4, _, idx = _get(f"{base}/index.html", {"Accept-Encoding": "identity"})
        assert st4 == 200 and b"<" in idx
        st5, _, idx2 = _get(f"{base}/whynot/index.html", {"Accept-Encoding": "identity"})
        assert st5 == 200
        # CORS: matching glob echoes origin; non-matching gets no header
        _, h6, _ = _get(f"{base}/index.html", {"Origin": "https://example.org", "Accept-Encoding": "identity"})
        assert h6.get("Access-Control-Allow-Origin") == "https://example.org"
        assert h6.get("Access-Control-Max-Age") == "86400"
        _, h7, _ = _get(f"{base}/index.html", {"Origin": "https://evil.example.net", "Accept-Encoding": "identity"})
        assert h7.get("Access-Control-Allow-Origin") is None
        _, h8, _ = _get(f"{base}/index.html", {"Origin": "https://cdn.other-example.org", "Accept-Encoding": "identity"})
        assert h8.get("Access-Control-Allow-Origin") == "https://cdn.other-example.org"
    finally:
        srv.shutdown()


def test_status_and_tiles_index_routes(spark, tile_df):
    """Liveness + source-index parity: tile_server.rs:198 routes /status to
    the literal "ready!" (asserted by its own test at :371), and
    routes.rs:39-64 serves a precomputed /tiles/index.json source list."""
    from versatiles_rs_spark.server import serve_tiles

    srv, base = serve_tiles(tile_df, tile_fmt="bin")
    try:
        st, hdrs, body = _get(f"{base}/status", {"Accept-Encoding": "identity"})
        assert st == 200 and body == b"ready!"
        assert hdrs["Content-Type"].startswith("text/plain")
        st2, hdrs2, idx = _get(f"{base}/tiles/index.json", {"Accept-Encoding": "identity"})
        assert st2 == 200 and json.loads(idx) == ["tiles"]
        assert hdrs2["Content-Type"].startswith("application/json")
    finally:
        srv.shutdown()


def test_empty_config_index_and_404_semantics(spark, tmp_path):
    """routes.rs tests at :81-100: with NO mounted sources the index is
    exactly "[]" (200), tile paths 404, and the static fallback 404s."""
    from versatiles_rs_spark.server import serve_from_config

    (tmp_path / "empty.yml").write_text("server:\n  ip: 127.0.0.1\n")
    srv, base, skipped = serve_from_config(spark, str(tmp_path / "empty.yml"))
    try:
        assert skipped == []
        st, _, idx = _get(f"{base}/tiles/index.json", {"Accept-Encoding": "identity"})
        assert st == 200 and idx == b"[]"  # byte-equal to routes.rs:86 expectation
        st2, _, body2 = _get(f"{base}/status", {"Accept-Encoding": "identity"})
        assert st2 == 200 and body2 == b"ready!"
        for path in ("/tiles/any/1/2/3", "/"):
            with pytest.raises(urllib.error.HTTPError) as ei:
                _get(f"{base}{path}")
            assert ei.value.code == 404
    finally:
        srv.shutdown()


def test_config_index_lists_healthy_mounts_in_order(spark, tmp_path):
    """The index is precomputed from the HEALTHY mounts only (a skipped
    remote source is absent), in mount order — reference behavior of
    add_api_to_app over the constructed source list (routes.rs:45-53)."""
    import pandas as pd

    from versatiles_rs_spark.server import serve_from_config
    from versatiles_rs_spark.sources.mbtiles import write_mbtiles

    df = spark.createDataFrame(
        pd.DataFrame([(0, 0, 0, b"x")], columns=["z", "x", "y", "bytes"]),
        schema="z int, x long, y long, bytes binary",
    )
    write_mbtiles(df, str(tmp_path / "a.mbtiles"))
    write_mbtiles(df, str(tmp_path / "b.mbtiles"))
    (tmp_path / "c.yml").write_text(
        "tiles:\n"
        "  - name: beta\n    path: b.mbtiles\n"
        "  - name: down\n    path: https://0.0.0.0:1/x.versatiles\n"
        "  - name: alpha\n    path: a.mbtiles\n"
    )
    srv, base, skipped = serve_from_config(spark, str(tmp_path / "c.yml"))
    try:
        assert [n for n, _ in skipped] == ["down"]
        st, _, idx = _get(f"{base}/tiles/index.json", {"Accept-Encoding": "identity"})
        assert st == 200 and idx == b'["beta","alpha"]'
    finally:
        srv.shutdown()


def test_default_cache_headers_and_image_incompressible(spark, tmp_path):
    """handlers.rs:135-147 parity: 200 data responses carry the public
    28-day Cache-Control + Vary: accept-encoding (config headers override),
    and image payloads skip compression negotiation entirely — a
    gzip-accepting client still gets the raw PNG bytes."""
    from versatiles_rs_spark.server import serve_tiles

    png = b"\x89PNG\r\n\x1a\n" + b"fake-png-body" * 20
    df = spark.createDataFrame(
        [(3, 4, 2, png)], "z int, x long, y long, bytes binary"
    )
    srv, base = serve_tiles(df, tile_fmt="png")
    try:
        st, hdrs, body = _get(f"{base}/tiles/3/4/2", {"Accept-Encoding": "gzip, br"})
        assert st == 200
        assert hdrs.get("Cache-Control") == "public, max-age=2419200, no-transform"
        assert hdrs.get("Vary") == "accept-encoding"
        assert hdrs.get("Content-Encoding") is None  # image never recompressed
        assert bytes(body) == png
    finally:
        srv.shutdown()


def test_accept_encoding_q_zero_is_refusal(spark, tmp_path):
    """'gzip;q=0' explicitly refuses gzip (RFC 9110 §12.5.3) — the server
    must not hand such a client a gzip body."""
    import pandas as pd

    from versatiles_rs_spark.server import _load_tile_source, serve_tiles
    from versatiles_rs_spark.sources.mbtiles import write_mbtiles

    raw = b"plain-mvt-bytes" * 20
    stored = gzip.compress(raw)
    df = spark.createDataFrame(
        pd.DataFrame([(2, 1, 1, stored)], columns=["z", "x", "y", "bytes"]),
        schema="z int, x long, y long, bytes binary",
    )
    p = str(tmp_path / "q0.mbtiles")
    write_mbtiles(df, p, metadata={"format": "pbf"})
    loaded, codec, fmt = _load_tile_source(spark, p)
    srv, base = serve_tiles(loaded, tile_fmt=fmt, tile_codec=codec)
    try:
        _, hdrs, body = _get(
            f"{base}/tiles/2/1/1", {"Accept-Encoding": "gzip;q=0, identity"}
        )
        assert hdrs.get("Content-Encoding") is None and body == raw
        # and a real q-value still counts as acceptance
        _, hdrs2, body2 = _get(
            f"{base}/tiles/2/1/1", {"Accept-Encoding": "gzip;q=0.5"}
        )
        assert hdrs2.get("Content-Encoding") == "gzip"
        assert gzip.decompress(body2) == raw
    finally:
        srv.shutdown()


def _pmtiles_archive(spark, tile_df, path):
    from versatiles_rs_spark.sources.pmtiles import write_pmtiles

    write_pmtiles(tile_df, str(path), tile_type="bin")
    return {(r.z, r.x, r.y): bytes(r.bytes) for r in tile_df.collect()}


def test_config_container_mount_runs_no_spark_job(spark, tile_df, tmp_path):
    """Structural pin: a .pmtiles mount answers tile GETs through its
    point-lookup reader — 20 hits and misses, every body byte-equal to the
    stored payload, and zero Spark jobs across the requests."""
    from versatiles_rs_spark.server import serve_from_config

    stored = _pmtiles_archive(spark, tile_df, tmp_path / "t.pmtiles")
    (tmp_path / "s.yml").write_text("tiles:\n  - name: t\n    path: t.pmtiles\n")
    hits = sorted(stored)
    misses = [(3, 7, 7), (3, 0, 5), (4, 0, 0), (3, 8, 0), (32, 0, 0), (0, 1, 0)]
    keys = (hits * 2)[:14] + misses
    srv, base, skipped = serve_from_config(spark, str(tmp_path / "s.yml"))
    tracker = spark.sparkContext.statusTracker()
    try:
        assert skipped == []
        jobs_before = set(tracker.getJobIdsForGroup(None))
        for z, x, y in keys:
            if (z, x, y) in stored:
                st, _, body = _get(f"{base}/tiles/t/{z}/{x}/{y}", {"Accept-Encoding": "identity"})
                assert st == 200 and body == stored[(z, x, y)]
            else:
                with pytest.raises(urllib.error.HTTPError) as ei:
                    _get(f"{base}/tiles/t/{z}/{x}/{y}")
                assert ei.value.code == 404
        # new ids, not a length difference: the status store evicts old
        # jobs past spark.ui.retainedJobs, which would hide a new one
        assert set(tracker.getJobIdsForGroup(None)) - jobs_before == set()
    finally:
        srv.shutdown()
        srv.server_close()


def test_serve_cli_mounts_container(spark, tile_df, tmp_path):
    """tools/serve.py on a bare .pmtiles file serves /tiles/z/x/y through
    the container's point lookup (no Spark job per request)."""
    from tools.serve import mount

    stored = _pmtiles_archive(spark, tile_df, tmp_path / "t.pmtiles")
    srv, base, skipped = mount(spark, str(tmp_path / "t.pmtiles"))
    tracker = spark.sparkContext.statusTracker()
    try:
        assert skipped == []
        jobs_before = set(tracker.getJobIdsForGroup(None))
        for (z, x, y), want in stored.items():
            st, hdrs, body = _get(f"{base}/tiles/{z}/{x}/{y}", {"Accept-Encoding": "identity"})
            assert st == 200 and body == want
        with pytest.raises(urllib.error.HTTPError) as ei:
            _get(f"{base}/tiles/3/7/7")
        assert ei.value.code == 404
        assert set(tracker.getJobIdsForGroup(None)) - jobs_before == set()
        st, _, meta = _get(f"{base}/tiles.json")
        assert json.loads(meta)["maxzoom"] == 3
    finally:
        srv.shutdown()
        srv.server_close()


def test_container_lookups_over_http(spark, tile_df, tmp_path):
    """The pmtiles and versatiles point lookups range-read http(s) mounts
    exactly like local files."""
    from versatiles_rs_spark.codecs import HAS_BROTLI
    from versatiles_rs_spark.remote import start_range_server
    from versatiles_rs_spark.sources.pmtiles import open_pmtiles_lookup
    from versatiles_rs_spark.sources.versatiles import (
        open_versatiles_lookup,
        write_versatiles,
    )

    stored = _pmtiles_archive(spark, tile_df, tmp_path / "t.pmtiles")
    opens = {"t.pmtiles": open_pmtiles_lookup}
    if HAS_BROTLI:
        write_versatiles(tile_df, str(tmp_path / "t.versatiles"), tile_type="bin")
        opens["t.versatiles"] = open_versatiles_lookup
    srv, base = start_range_server(str(tmp_path))
    try:
        for name, open_lookup in opens.items():
            lookup = open_lookup(f"{base}/{name}")
            assert {k: lookup(*k) for k in stored} == stored
            assert lookup(3, 7, 7) is None
    finally:
        srv.shutdown()
        srv.server_close()
