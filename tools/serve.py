"""`versatiles serve` analog: HTTP tile server from a config or a source.

    python tools/serve.py config.yml [--port 8080]        # reference-format YAML
    python tools/serve.py tiles.{parquet,mbtiles,pmtiles,versatiles,vpl} [--port N]

Routes (server/routes.rs parity): /tiles/{name}/{z}/{x}/{y}, /tiles.json,
static mounts, Accept-Encoding negotiation (brotli > gzip > identity).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def mount(spark, path: str, port: int = 0):
    """Start serving `path` on a background thread. Returns (server, url,
    skipped config mounts). Containers and .vpl files go through
    server.serve_source (a container request runs no Spark job); a parquet
    tile table is cached once so its Spark point lookups hit memory."""
    from versatiles_rs_spark.server import serve_from_config, serve_source, serve_tiles

    if path.endswith((".yml", ".yaml")):
        return serve_from_config(spark, path, port=port)
    if path.endswith(".parquet") or os.path.isdir(path):
        df = spark.read.option("recursiveFileLookup", "true").parquet(path).cache()
        df.count()
        return (*serve_tiles(df, port=port), [])
    return (*serve_source(spark, path, port=port), [])


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    port = 8080
    for i, a in enumerate(sys.argv):
        if a == "--port":
            port = int(sys.argv[i + 1])
    path = args[0]

    from versatiles_rs_spark.session import get_spark

    spark = get_spark(app_name="serve", master="local[8]", shuffle_partitions=8)
    srv, url, skipped = mount(spark, path, port=port)
    for name, err in skipped:
        print(f"# skipped source {name!r}: {err}")
    print(f"# serving on {url} (Ctrl-C to stop)")
    try:
        while True:
            time.sleep(3600)
    except KeyboardInterrupt:
        srv.shutdown()
        spark.stop()


if __name__ == "__main__":
    main()
