"""Remote HTTP range source + range readers.

Parity: the reference reads remote containers through ranged HTTP requests
(/root/reference/versatiles_core/src/io/data_reader_http.rs:91-98 — one
`Range: bytes=a-b` GET per read). Same model here over stdlib urllib: the
single-file containers (pmtiles / versatiles) consume a RangeReader, so a
`http(s)://` URL works anywhere a local path does (convert CLI included).

Also provides `RangeFileHandler`, a minimal Range-capable static file
handler (python -m http.server does NOT honor Range) used by tests and as a
local remote-source double.
"""

from __future__ import annotations

import os
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class FileRangeReader:
    def __init__(self, path: str):
        self.path = path
        self.size = os.path.getsize(path)

    def read(self, offset: int, length: int) -> bytes:
        # one positioned read per call: no shared file position, so
        # concurrent readers (threaded serve lookups) need no lock
        fd = os.open(self.path, os.O_RDONLY)
        try:
            return os.pread(fd, length, offset)
        finally:
            os.close(fd)


class HttpRangeReader:
    """Ranged reads over HTTP(S) (data_reader_http.rs:91-98).

    Servers that ignore Range (status 200) still work: the full body is
    fetched once and sliced locally."""

    def __init__(self, url: str):
        self.url = url
        self._full: bytes | None = None
        req = urllib.request.Request(url, method="HEAD")
        try:
            with urllib.request.urlopen(req, timeout=30) as r:
                self.size = int(r.headers.get("Content-Length") or 0)
        except Exception:
            self.size = 0

    def read(self, offset: int, length: int) -> bytes:
        if self._full is not None:
            return self._full[offset : offset + length]
        req = urllib.request.Request(
            self.url, headers={"Range": f"bytes={offset}-{offset + length - 1}"}
        )
        with urllib.request.urlopen(req, timeout=60) as r:
            body = r.read()
            if r.status == 206:
                return body
            # Range unsupported: keep the full body for subsequent reads
            self._full = body
            self.size = len(body)
            return body[offset : offset + length]


def open_range_reader(path_or_url: str):
    if path_or_url.startswith(("http://", "https://")):
        return HttpRangeReader(path_or_url)
    return FileRangeReader(path_or_url)


class RangeFileHandler(BaseHTTPRequestHandler):
    """Static file handler with RFC 7233 single-range support."""

    root = "."

    def log_message(self, *a):  # quiet test servers
        pass

    def do_HEAD(self):
        self._serve(head=True)

    def do_GET(self):
        self._serve(head=False)

    def _serve(self, head: bool):
        # containment via commonpath on resolved paths: a bare prefix check
        # lets /tmp/x2/f escape a /tmp/x root, and a relative root never
        # matches its own abspath prefix (ADVICE r2)
        root = os.path.realpath(self.root)
        path = os.path.realpath(os.path.join(root, self.path.lstrip("/")))
        try:
            contained = os.path.commonpath([root, path]) == root
        except ValueError:
            contained = False
        if not contained or not os.path.isfile(path):
            self.send_error(404)
            return
        size = os.path.getsize(path)
        rng = self.headers.get("Range")
        if rng and rng.startswith("bytes="):
            a, _, b = rng[6:].partition("-")
            start = int(a)
            end = min(int(b) if b else size - 1, size - 1)
            self.send_response(206)
            self.send_header("Content-Range", f"bytes {start}-{end}/{size}")
            n = end - start + 1
        else:
            self.send_response(200)
            start, n = 0, size
        self.send_header("Content-Length", str(n))
        self.send_header("Accept-Ranges", "bytes")
        self.end_headers()
        if not head:
            with open(path, "rb") as f:
                f.seek(start)
                self.wfile.write(f.read(n))


def start_range_server(root: str):
    """Serve `root` with Range support on an ephemeral port (for tests).
    Returns (server, base_url); call server.shutdown() when done."""
    import threading

    handler = type("H", (RangeFileHandler,), {"root": os.path.abspath(root)})
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"
