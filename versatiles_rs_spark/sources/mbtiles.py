"""MBTiles container support (real format, stdlib sqlite3).

Parity: /root/reference/versatiles_container/src/container/mbtiles/
reader.rs:335,373 (bbox-windowed SELECTs over the `tiles` table) and
writer.rs:85-107 (any-order inserts, unique (z, column, row) index).

MBTiles stores rows in the TMS scheme: tile_row = 2^z - 1 - y (flipped
versus XYZ) — both directions handled here (tile_coord.rs:179-181 flip_y).

SQLite is a single-file edge format, so ingest reads batches through the
driver connection into distributed DataFrames (the reference's reader is
likewise a single SQLite handle); export collects per-partition iterators
into one writer transaction. Analytical work happens on the parquet/Iceberg
tile table, not the .mbtiles file.
"""

from __future__ import annotations

import os
import sqlite3

from pyspark.sql import DataFrame, SparkSession

MBTILES_SCHEMA = "z int, x long, y long, bytes binary"


def read_mbtiles(
    spark: SparkSession,
    path: str,
    batch_rows: int = 50000,
    bbox: tuple[int, int, int, int] | None = None,
    zoom: int | None = None,
) -> DataFrame:
    """Scan an .mbtiles file into an XYZ-keyed tile DataFrame.

    Optional pruning mirrors reader.rs:335: a (zoom, tile-bbox) window
    becomes a WHERE clause on the SQLite index before anything leaves the
    file."""
    con = sqlite3.connect(path)
    try:
        where, params = [], []
        if zoom is not None:
            where.append("zoom_level = ?")
            params.append(zoom)
        if bbox is not None:
            x0, y0, x1, y1 = bbox  # XYZ tile bbox; flip y window for TMS
            if zoom is None:
                raise ValueError("bbox pruning requires zoom")
            n = (1 << zoom) - 1
            where.append("tile_column BETWEEN ? AND ?")
            params += [x0, x1]
            where.append("tile_row BETWEEN ? AND ?")
            params += [n - y1, n - y0]
        q = "SELECT zoom_level, tile_column, tile_row, tile_data FROM tiles"
        if where:
            q += " WHERE " + " AND ".join(where)
        cur = con.execute(q, params)
        dfs = []
        while True:
            rows = cur.fetchmany(batch_rows)
            if not rows:
                break
            xyz = [
                (int(z), int(x), (1 << int(z)) - 1 - int(r), bytes(b))
                for z, x, r, b in rows
            ]
            dfs.append(spark.createDataFrame(xyz, MBTILES_SCHEMA))
        if not dfs:
            return spark.createDataFrame([], MBTILES_SCHEMA)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out
    finally:
        con.close()


def read_mbtiles_metadata(path: str) -> dict:
    con = sqlite3.connect(path)
    try:
        return dict(con.execute("SELECT name, value FROM metadata"))
    finally:
        con.close()


def open_mbtiles_lookup(path: str):
    """Point-lookup reader: `lookup(z, x, y) -> bytes | None` with no Spark
    work — one indexed SELECT on the unique (z, column, row) index, y
    flipped to TMS.  Each calling thread gets its own read-only
    connection (sqlite3 handles are not shared across threads)."""
    import pathlib
    import threading

    from .. import tile_math as tm

    uri = pathlib.Path(path).absolute().as_uri() + "?mode=ro"
    sqlite3.connect(uri, uri=True).close()  # fail at mount on a missing file
    local = threading.local()

    def lookup(z: int, x: int, y: int) -> bytes | None:
        if not tm.in_pyramid(z, x, y):
            return None
        con = getattr(local, "con", None)
        if con is None:
            con = local.con = sqlite3.connect(uri, uri=True)
        row = con.execute(
            "SELECT tile_data FROM tiles WHERE zoom_level = ? AND tile_column = ? "
            "AND tile_row = ?",
            (z, x, (1 << z) - 1 - y),
        ).fetchone()
        return bytes(row[0]) if row else None

    return lookup


def write_mbtiles(
    df: DataFrame, path: str, metadata: dict | None = None, payload: str = "bytes"
) -> int:
    """Export a tile DataFrame to .mbtiles (writer.rs:85-107: any input
    order, unique index enforces one row per coordinate). Returns rows
    written."""
    if os.path.exists(path):
        os.remove(path)
    con = sqlite3.connect(path)
    try:
        con.execute("CREATE TABLE metadata (name TEXT, value TEXT)")
        con.execute(
            "CREATE TABLE tiles (zoom_level INTEGER, tile_column INTEGER, "
            "tile_row INTEGER, tile_data BLOB)"
        )
        con.execute(
            "CREATE UNIQUE INDEX tile_index ON tiles (zoom_level, tile_column, tile_row)"
        )
        meta = {"name": "spark-tiles", "format": "png", "type": "overlay", **(metadata or {})}
        con.executemany("INSERT INTO metadata VALUES (?, ?)", list(meta.items()))
        n = 0
        it = df.select("z", "x", "y", payload).toLocalIterator()
        batch = []
        for r in it:
            tms_row = (1 << int(r.z)) - 1 - int(r.y)
            batch.append((int(r.z), int(r.x), tms_row, bytes(r[3])))
            if len(batch) >= 10000:
                con.executemany("INSERT INTO tiles VALUES (?, ?, ?, ?)", batch)
                n += len(batch)
                batch = []
        if batch:
            con.executemany("INSERT INTO tiles VALUES (?, ?, ?, ?)", batch)
            n += len(batch)
        con.commit()
        return n
    finally:
        con.close()
