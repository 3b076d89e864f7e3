"""Minimal HTTP tile server shim.

Parity: /root/reference/versatiles/src/server/tile_server.rs:54 and
routes.rs:14-22 — routes:
  GET /tiles/{z}/{x}/{y}[.ext]  -> tile payload (404 when absent)
  GET /tiles.json               -> TileJSON metadata
  GET /status                   -> "ready!" liveness probe
                                   (tile_server.rs:198)
  GET /tiles/index.json         -> precomputed JSON list of mounted
                                   tile-source ids (routes.rs:39-64;
                                   "[]" when none are mounted)
  GET /static/<name>            -> member of a static tar
                                   (.tar / .tar.gz / .tar.br, the
                                   reference's static-content mode)

Content negotiation mirrors server/encoding.rs + optimize_compression: the
response body is recompressed per the client's Accept-Encoding (brotli >
gzip > identity) and labeled with Content-Encoding.

Every tile route resolves to one call, `body = lookup(z, x, y)`, bound at
mount.  A single-file container (.pmtiles / .versatiles / .mbtiles) mounts
its own point-lookup reader (`open_<fmt>_lookup`): the header and top-level
index are parsed once, so a request walks the in-memory index and does one
range read or indexed SELECT — no Spark job per request, the reference's
reader.get_tile.  A DataFrame source (`serve_tiles`, a .vpl pipeline mount)
is wrapped in the same callable shape and runs one `get_tile` Spark lookup
per request; that path is the functional `versatiles serve` analog for
tests and local inspection.  Snapshot-table mode keeps its own versioned
(`?v=`) Spark lookup.
"""

from __future__ import annotations

import io
import json
import re
import tarfile
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_TILE_RE = re.compile(r"^/tiles/(\d+)/(\d+)/(\d+)(?:\.\w+)?$")

_CTYPE = {
    "png": "image/png",
    "jpg": "image/jpeg",
    "webp": "image/webp",
    "avif": "image/avif",
    "mvt": "application/vnd.mapbox-vector-tile",
    "bin": "application/octet-stream",
}


def _load_static(path: str) -> dict[str, bytes]:
    """Members of a static tar; .gz/.br outer compression handled
    (the reference ships testdata/static.tar.{gz,br})."""
    import gzip

    from .codecs import decompress_blob

    raw = open(path, "rb").read()
    if path.endswith(".gz"):
        raw = gzip.decompress(raw)
    elif path.endswith(".br"):
        raw = decompress_blob(raw, "brotli")
    out = {}
    with tarfile.open(fileobj=io.BytesIO(raw)) as t:
        for m in t.getmembers():
            if m.isfile():
                # strip only a literal "./" prefix — lstrip("./") would also
                # mangle dotfile names like .well-known/assetlinks.json
                name = m.name
                while name.startswith("./"):
                    name = name[2:]
                out[name] = t.extractfile(m).read()
    return out


class TileHandler(BaseHTTPRequestHandler):
    lookup = None  # staticmethod (z, x, y) -> bytes | None behind /tiles/z/x/y
    tilejson: dict = {}
    tile_fmt = "png"
    tile_codec = "none"  # stored compression of the lookup's tile payloads
    static: dict[str, bytes] = {}
    sources: dict = {}  # name -> (lookup, tilejson, codec, fmt) for config-driven multi-source
    snap = None  # SnapshotTable: versioned serving (merge-on-read + ?v= time travel)
    # Precomputed at mount time like the reference's add_api_to_app
    # (routes.rs:45-53) — never recomputed per request.
    tiles_index_json = "[]"
    extra_headers: dict[str, str] = {}
    cors_origins: list[str] = []
    cors_max_age: int = 0

    def log_message(self, *a):
        pass

    def _cors_origin(self) -> str | None:
        import fnmatch

        origin = self.headers.get("Origin")
        if not origin or not self.cors_origins:
            return None
        host = origin.split("://", 1)[-1]
        for pat in self.cors_origins:
            p = pat.split("://", 1)[-1]
            if fnmatch.fnmatch(origin, pat) or fnmatch.fnmatch(host, p):
                return origin
        return None

    def _negotiate(self, body: bytes, codec: str = "none") -> tuple[bytes, str | None]:
        """`codec` is the payload's STORED compression (container tile
        compression) — threading it into optimize_compression mirrors the
        reference (server/encoding.rs): a gzip-stored MVT keeps its gzip
        layer for gzip-accepting clients and is transparently recoded (never
        double-compressed) otherwise."""
        from .codecs import optimize_compression

        accepted = set()
        for e in (self.headers.get("Accept-Encoding") or "").split(","):
            e = e.strip()
            if not e:
                continue
            name, _, params = e.partition(";")
            # "gzip;q=0" is an explicit REFUSAL, not an acceptance
            qm = re.search(r"q\s*=\s*([0-9.]+)", params)
            if qm and float(qm.group(1)) == 0.0:
                continue
            accepted.add(name.strip())
        out, codec = optimize_compression(body, codec, accepted)
        return out, {"gzip": "gzip", "brotli": "br"}.get(codec)

    # Binary images are effectively incompressible; the reference skips the
    # recompression negotiation for them entirely (handlers.rs:135-141).
    _INCOMPRESSIBLE = {"image/png", "image/jpeg", "image/webp", "image/avif"}

    def _send(self, body: bytes, ctype: str, codec: str = "none"):
        if ctype in self._INCOMPRESSIBLE and codec == "none":
            encoding = None
        else:
            body, encoding = self._negotiate(body, codec)
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        # handlers.rs:146-147: long-lived public cache, no proxy transforms,
        # and Vary on the negotiated encoding — config extra_headers override
        extra_keys = {k.lower() for k in self.extra_headers}
        if "cache-control" not in extra_keys:
            self.send_header("Cache-Control", "public, max-age=2419200, no-transform")
        if "vary" not in extra_keys:
            # CORS responses also vary by Origin — a shared cache must not
            # serve one origin's Access-Control-Allow-Origin to another
            vary = "accept-encoding, origin" if self.cors_origins else "accept-encoding"
            self.send_header("Vary", vary)
        if encoding:
            self.send_header("Content-Encoding", encoding)
        self.send_header("Content-Length", str(len(body)))
        for k, v in self.extra_headers.items():
            self.send_header(k, v)
        origin = self._cors_origin()
        if origin:
            self.send_header("Access-Control-Allow-Origin", origin)
            if self.cors_max_age:
                self.send_header("Access-Control-Max-Age", str(self.cors_max_age))
        self.end_headers()
        self.wfile.write(body)

    def _send_tile(self, body: bytes | None, fmt: str, codec: str):
        if body is None:
            self.send_error(404, "tile not found")
            return
        # real MIME from the source's declared format — octet-stream would
        # both mislabel tiles and defeat the image-incompressible skip
        # (handlers.rs ok_data sets the true Content-Type)
        self._send(body, _CTYPE.get(fmt, _CTYPE["bin"]), codec)

    def do_GET(self):
        # liveness probe — tile_server.rs:198 routes /status to the literal
        # "ready!"; load balancers hit this before anything else
        if self.path == "/status":
            self._send(b"ready!", "text/plain")
            return
        # source index — routes.rs:55: a precomputed JSON array of mounted
        # tile-source ids ("[]" when nothing is mounted, per routes.rs:81-89)
        if self.path == "/tiles/index.json":
            self._send(self.tiles_index_json.encode(), "application/json")
            return

        # snapshot-table mode: /tiles/z/x/y[?v=N] — merge-on-read point
        # lookup, file set zone-map-pruned per request, ?v= pins a snapshot
        if self.snap is not None:
            path, _, qs = self.path.partition("?")
            m = _TILE_RE.match(path)
            if m:
                z, x, y = map(int, m.groups())
                version = None
                vm = re.search(r"(?:^|&)v=(\d+)", qs)
                if vm:
                    version = int(vm.group(1))
                try:
                    row = get_tile_snapshot(self.snap, z, x, y, version=version)
                except FileNotFoundError:
                    self.send_error(404, "no such snapshot version")
                    return
                body = None if row is None else bytes(row.bytes)
                self._send_tile(body, self.tile_fmt, self.tile_codec)
                return

        # config mode: /tiles/{name}/{z}/{x}/{y} + /tiles/{name}/tiles.json
        m = re.match(r"^/tiles/(\w+)/(\d+)/(\d+)/(\d+)(?:\.\w+)?$", self.path)
        if m and m.group(1) in self.sources:
            lookup, _, codec, fmt = self.sources[m.group(1)]
            z, x, y = int(m.group(2)), int(m.group(3)), int(m.group(4))
            self._send_tile(lookup(z, x, y), fmt, codec)
            return
        m = re.match(r"^/tiles/(\w+)/tiles\.json$", self.path)
        if m and m.group(1) in self.sources:
            self._send(json.dumps(self.sources[m.group(1)][1]).encode(), "application/json")
            return
        m = _TILE_RE.match(self.path)
        if m and self.lookup is not None:
            z, x, y = map(int, m.groups())
            self._send_tile(self.lookup(z, x, y), self.tile_fmt, self.tile_codec)
            return
        if self.path in ("/tiles.json", "/tiles/tiles.json") and (
            self.lookup is not None or self.snap is not None
        ):
            self._send(json.dumps(self.tilejson).encode(), "application/json")
            return
        name = self.path.lstrip("/")
        if name.startswith("static/"):
            name = name[len("static/"):]
        if name in self.static:
            ctype = "text/html" if name.endswith(".html") else "application/octet-stream"
            self._send(self.static[name], ctype)
            return
        self.send_error(404)


def get_tile_snapshot(table, z: int, x: int, y: int, version: int | None = None):
    """Point lookup against ONE snapshot: the scan plans only the files
    whose zone-map can contain (z,x,y) (plan_files prune), and when
    appended deltas carry a _v column the newest version of the tile wins
    (merge-on-read at lookup granularity)."""
    from pyspark.sql import functions as F

    df = table.read(version=version, prune={"z": z, "x": x, "y": y})
    hit = df.filter((F.col("z") == z) & (F.col("x") == x) & (F.col("y") == y))
    if "_v" in df.columns:
        hit = hit.orderBy(F.col("_v").desc())
    rows = hit.limit(1).collect()
    return rows[0] if rows else None


def _start(name: str, attrs: dict, host: str, port: int):
    """Bind a TileHandler subclass with `attrs` and serve it on a daemon
    thread. Returns (server, url)."""
    srv = ThreadingHTTPServer((host, port), type(name, (TileHandler,), attrs))
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://{host}:{srv.server_address[1]}"


def serve_snapshot_tiles(
    spark,
    table_path: str,
    host: str = "127.0.0.1",
    port: int = 0,
    tile_fmt: str = "png",
    tile_codec: str = "none",
):
    """Serve a SnapshotTable (e.g. one jobs/refresh_job.py level): current
    tiles at /tiles/z/x/y, any retained past version at /tiles/z/x/y?v=N.
    The serving
    loop of the incremental pipeline — refresh commits land atomically and
    the next request sees them; old versions stay addressable until
    vacuumed."""
    from .sinks.snapshots import SnapshotTable
    from .sources.containers import tilejson_for

    t = SnapshotTable(spark, table_path)
    return _start(
        "SnapshotTileHandler",
        {
            "snap": t,
            "tilejson": tilejson_for(t.read()),
            "tile_fmt": tile_fmt,
            "tile_codec": tile_codec,
            "tiles_index_json": '["tiles"]',
        },
        host,
        port,
    )


def _df_lookup(df):
    """A tile DataFrame in the lookup shape: one Spark `get_tile` per call."""
    from .sources.containers import get_tile

    def lookup(z: int, x: int, y: int) -> bytes | None:
        row = get_tile(df, z, x, y)
        return None if row is None else bytes(row.bytes)

    return lookup


def serve_tiles(
    df,
    host: str = "127.0.0.1",
    port: int = 0,
    tile_fmt: str = "png",
    static_tar: str | None = None,
    tile_codec: str = "none",
):
    """Start the serve shim on a background thread. Returns (server, url);
    call server.shutdown() to stop. `tile_codec` declares the stored
    compression of `df`'s payload bytes (e.g. "gzip" for MVT out of an
    mbtiles container) so negotiation recodes instead of double-compressing."""
    from .sources.containers import tilejson_for

    return _start(
        "BoundTileHandler",
        {
            "lookup": staticmethod(_df_lookup(df)),
            "tilejson": tilejson_for(df),
            "tile_fmt": tile_fmt,
            "tile_codec": tile_codec,
            "static": _load_static(static_tar) if static_tar else {},
            "tiles_index_json": '["tiles"]',
        },
        host,
        port,
    )


def serve_source(spark, path: str, host: str = "127.0.0.1", port: int = 0):
    """Serve one container or .vpl file at /tiles/z/x/y through its mount
    (see mount_tile_source). Returns (server, url)."""
    lookup, tilejson, codec, fmt = mount_tile_source(spark, path)
    return _start(
        "SourceTileHandler",
        {
            "lookup": staticmethod(lookup),
            "tilejson": tilejson,
            "tile_fmt": fmt,
            "tile_codec": codec,
            "tiles_index_json": '["tiles"]',
        },
        host,
        port,
    )


def _load_tile_source(spark, path: str):
    """Container/VPL dispatch for a config `tiles:` entry. Returns
    (df, stored_tile_codec, tile_fmt) — codec and format come from the
    container header so the serve path can negotiate from the REAL current
    compression (server/encoding.rs parity) and label responses with the
    true MIME instead of octet-stream."""
    if path.endswith(".mbtiles"):
        from .sources.mbtiles import read_mbtiles, read_mbtiles_metadata

        # mbtiles convention (spec 1.3): pbf tiles are stored gzip-compressed
        fmt = read_mbtiles_metadata(path).get("format", "")
        codec = "gzip" if fmt in ("pbf", "mvt") else "none"
        fmt = "mvt" if fmt == "pbf" else fmt
        return read_mbtiles(spark, path), codec, fmt
    if path.endswith(".pmtiles"):
        from .sources.pmtiles import read_pmtiles, read_pmtiles_header

        h = read_pmtiles_header(path)
        codec = {1: "none", 2: "gzip", 3: "brotli"}.get(h["tile_compression"], "none")
        return read_pmtiles(spark, path), codec, h["tile_type"]
    if path.endswith(".versatiles"):
        from .sources.versatiles import read_versatiles, read_versatiles_header

        h = read_versatiles_header(path)
        comp = h["compression"]
        codec = comp if comp in ("gzip", "brotli") else "none"
        return read_versatiles(spark, path), codec, h.get("tile_format", "bin")
    if path.endswith(".vpl"):
        from .plans.vpl import run_vpl_file

        return run_vpl_file(spark, path), "none", "bin"
    raise ValueError(f"unsupported tile source {path!r}")


def mount_tile_source(spark, path: str):
    """Mount one container or .vpl file for serving. Returns (lookup,
    tilejson, stored_tile_codec, tile_fmt). A container's lookup is its own
    point-lookup reader, so requests run no Spark work; a .vpl pipeline's
    is a `get_tile` over its DataFrame. The DataFrame also derives the
    TileJSON, once, at mount."""
    from .sources.containers import tilejson_for

    df, codec, fmt = _load_tile_source(spark, path)
    if path.endswith(".mbtiles"):
        from .sources.mbtiles import open_mbtiles_lookup

        lookup = open_mbtiles_lookup(path)
    elif path.endswith(".pmtiles"):
        from .sources.pmtiles import open_pmtiles_lookup

        lookup = open_pmtiles_lookup(path)
    elif path.endswith(".versatiles"):
        from .sources.versatiles import open_versatiles_lookup

        lookup = open_versatiles_lookup(path)
    else:
        lookup = _df_lookup(df)
    return lookup, tilejson_for(df), codec, fmt


def serve_from_config(spark, config_path: str, port: int = 0):
    """Start the shim from a reference-format server YAML (the layout of
    versatiles' own testdata/config1.yml): `server:` ip/port, `cors:`
    allowed_origins globs + max_age, `extra_response_headers:`, `static:`
    tar mounts, `tiles:` named container/VPL sources. Remote (http) sources
    that fail to open are skipped with a warning, like a server that keeps
    running when one mount is down. Returns (server, url, skipped)."""
    import os

    import yaml

    with open(config_path) as f:
        cfg = yaml.safe_load(f)
    base = os.path.dirname(os.path.abspath(config_path))

    def resolve(p):
        return p if "://" in p or os.path.isabs(p) else os.path.normpath(os.path.join(base, p))

    sources, skipped = {}, []
    for entry in cfg.get("tiles", []) or []:
        try:
            sources[entry["name"]] = mount_tile_source(spark, resolve(entry["path"]))
        except Exception as e:  # keep serving the healthy mounts
            skipped.append((entry["name"], str(e)[:200]))

    static: dict[str, bytes] = {}
    for mnt in cfg.get("static", []) or []:
        p = resolve(mnt["path"])
        prefix = mnt.get("url_prefix", "/").strip("/")
        if os.path.isfile(p) and (p.endswith(".tar") or ".tar." in p):
            for name, data in _load_static(p).items():
                static[f"{prefix}/{name}".strip("/")] = data

    server_cfg = cfg.get("server", {}) or {}
    cors = cfg.get("cors", {}) or {}
    srv, url = _start(
        "ConfigTileHandler",
        {
            "sources": sources,
            # mount-order ids, precomputed once (routes.rs:45-53); healthy
            # mounts only — a skipped source is absent from the index
            "tiles_index_json": json.dumps(list(sources), separators=(",", ":")),
            "static": static,
            "extra_headers": dict(cfg.get("extra_response_headers", {}) or {}),
            "cors_origins": list(cors.get("allowed_origins", []) or []),
            "cors_max_age": int(cors.get("max_age_seconds", 0) or 0),
        },
        str(server_cfg.get("ip", "127.0.0.1")),
        port,
    )
    return srv, url, skipped
