"""Deployment-shaped flagship: scan a STORED images table instead of
synthesizing inline (BASELINE.json input_hint: "Iceberg table ... SF-scaled
sample"). Parity contract: identical output to the inline flagship."""

import pandas as pd
import pytest

from versatiles_rs_spark import fixtures
from versatiles_rs_spark.pipeline import flagship, flagship_scan
from versatiles_rs_spark.sources.arrow_scan import read_parquet_pythonside


def _sorted_pdf(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_flagship_scan_matches_inline(spark, tmp_path):
    n = 2000
    path = str(tmp_path / "images")
    fixtures.images_df(spark, n, partitions=8).write.parquet(path)

    inline = _sorted_pdf(flagship(spark, n_images=n, partitions=8, n_polygons=50))
    scan = _sorted_pdf(flagship_scan(spark, path, n_polygons=50))
    assert list(inline.columns) == list(scan.columns)
    pd.testing.assert_frame_equal(inline, scan)


def test_tiles_from_images_matches_fused_generator(spark, tmp_path):
    """The scan-side kernel must emit exactly what the fused synth stage
    emits (same coords, hilbert ids, and re-encoded payload bytes)."""
    n = 300
    path = str(tmp_path / "images")
    fixtures.images_df(spark, n, partitions=4).write.parquet(path)

    synth = fixtures.images_with_tiles_df(
        spark, n, partitions=4, skew=True, target_fmt="jpg", emit_bytes=True
    )
    scan = read_parquet_pythonside(
        spark, path, schema=fixtures.tile_kernel_schema(True),
        kernel=fixtures.make_tile_kernel(skew=True, target_fmt="jpg", emit_bytes=True),
    )
    a = _sorted_pdf(synth.selectExpr("image_id", "z", "x", "y", "hilbert",
                                     "sha2(hex(bytes), 256) as payload_sha"))
    b = _sorted_pdf(scan.selectExpr("image_id", "z", "x", "y", "hilbert",
                                    "sha2(hex(bytes), 256) as payload_sha"))
    pd.testing.assert_frame_equal(a, b)


def test_materialize_images_reuses_cache(spark, tmp_path):
    root = str(tmp_path / "cache")
    p1 = fixtures.materialize_images(spark, 100, partitions=4, cache_root=root)
    import os

    mtime = os.path.getmtime(os.path.join(p1, "_SUCCESS"))
    p2 = fixtures.materialize_images(spark, 100, partitions=4, cache_root=root)
    assert p1 == p2
    assert os.path.getmtime(os.path.join(p2, "_SUCCESS")) == mtime


def _write_parts(path, n_files: int) -> None:
    """n_files part-files; part i holds i + 1 rows, so a row count names its file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i in range(n_files):
        pq.write_table(pa.table({"v": list(range(i + 1))}), os.path.join(path, f"part-{i:05d}.parquet"))


def test_python_scan_reads_each_file_in_exactly_one_task(spark, tmp_path):
    """One task per part-file, each file read once — with fewer files than
    cores and with more files than local[4]'s default parallelism."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        from pyspark import TaskContext

        return pd.DataFrame({"part": [TaskContext.get().partitionId()], "rows": [len(pdf)]})

    for n_files in (3, 12):
        path = str(tmp_path / f"parts{n_files}")
        _write_parts(path, n_files)
        df = read_parquet_pythonside(spark, path, schema="part int, rows long", kernel=kernel)
        got = df.collect()
        assert sorted(r.part for r in got) == list(range(n_files))  # one file per task
        assert sorted(r.rows for r in got) == list(range(1, n_files + 1))  # each file once


def test_python_scan_empty_directory_fails_before_any_job(spark, tmp_path):
    empty = tmp_path / "empty"
    empty.mkdir()
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match="no parquet part-files"):
        read_parquet_pythonside(spark, str(empty), schema="v long", kernel=lambda pdf: pdf)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
