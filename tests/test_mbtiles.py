"""MBTiles container: round-trip, TMS y-flip, windowed pruning, metadata."""

import sqlite3

import pytest
from pyspark.sql import functions as F

from versatiles_rs_spark import fixtures
from versatiles_rs_spark.sources.mbtiles import (
    read_mbtiles,
    read_mbtiles_metadata,
    write_mbtiles,
)


@pytest.fixture(scope="module")
def tiles(spark):
    df = fixtures.images_with_tiles_df(spark, 300, size=16, zoom=4, partitions=4, skew=False)
    return df.groupBy("z", "x", "y").agg(F.min("bytes").alias("bytes")).cache()


def test_roundtrip_bytes_and_coords(spark, tiles, tmp_path):
    path = str(tmp_path / "t.mbtiles")
    n = write_mbtiles(tiles, path, metadata={"name": "fixture"})
    assert n == tiles.count()
    back = read_mbtiles(spark, path)
    a = {(r.z, r.x, r.y): bytes(r.bytes) for r in tiles.collect()}
    b = {(r.z, r.x, r.y): bytes(r.bytes) for r in back.collect()}
    assert a == b
    assert read_mbtiles_metadata(path)["name"] == "fixture"


def test_tms_flip_on_disk(spark, tiles, tmp_path):
    """Rows in the file must be TMS (flipped y) even though the API is XYZ."""
    path = str(tmp_path / "flip.mbtiles")
    write_mbtiles(tiles, path)
    one = tiles.first()
    con = sqlite3.connect(path)
    row = con.execute(
        "SELECT tile_row FROM tiles WHERE zoom_level=? AND tile_column=?",
        (int(one.z), int(one.x)),
    ).fetchall()
    con.close()
    expected_rows = {
        (1 << int(one.z)) - 1 - int(r.y)
        for r in tiles.filter((F.col("z") == one.z) & (F.col("x") == one.x)).collect()
    }
    assert {v[0] for v in row} == expected_rows


def test_windowed_read_prunes(spark, tiles, tmp_path):
    path = str(tmp_path / "w.mbtiles")
    write_mbtiles(tiles, path)
    got = read_mbtiles(spark, path, zoom=4, bbox=(4, 4, 11, 11))
    expect = tiles.filter(
        (F.col("x").between(4, 11)) & (F.col("y").between(4, 11))
    ).count()
    assert got.count() == expect
    # coordinates stay XYZ after the windowed TMS query
    assert got.agg(F.min("y")).first()[0] >= 4


def test_unique_index_rejects_duplicate_coords(spark, tiles, tmp_path):
    dup = tiles.unionByName(tiles.limit(1))
    with pytest.raises(sqlite3.IntegrityError):
        write_mbtiles(dup, str(tmp_path / "dup.mbtiles"))


def test_lookup_parity_tms_flip(spark, tiles, tmp_path, check_lookup):
    """open_mbtiles_lookup takes XYZ and flips y to TMS in its SELECT: every
    tile of the scan comes back from the lookup at the same (z, x, y)."""
    from versatiles_rs_spark.sources.mbtiles import open_mbtiles_lookup

    path = str(tmp_path / "l.mbtiles")
    write_mbtiles(tiles, path)
    scan = {(r.z, r.x, r.y): bytes(r.bytes) for r in read_mbtiles(spark, path).collect()}
    check_lookup(scan, open_mbtiles_lookup(path))


def test_lookup_missing_file_fails_at_open(tmp_path):
    from versatiles_rs_spark.sources.mbtiles import open_mbtiles_lookup

    with pytest.raises(sqlite3.OperationalError):
        open_mbtiles_lookup(str(tmp_path / "absent.mbtiles"))
    assert not (tmp_path / "absent.mbtiles").exists()
