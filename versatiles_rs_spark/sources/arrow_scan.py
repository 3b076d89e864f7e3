"""Python-side parquet scan for payload-heavy tables.

`spark.read.parquet` decodes every column in the JVM and then re-serializes
the batches over Arrow IPC into the Python workers for mapInPandas — for a
table whose weight is opaque binary blobs the JVM does 100% of the byte
work twice (parquet decode + Arrow encode) just to hand the bytes to
Python.  The scale-correct shape is the one ML ingest systems (petastorm,
NVTabular) use on Spark: the JVM hands each task only a file index and
each Python worker reads its part-file directly with pyarrow.  Blobs then
move storage -> Python once.

Trade-offs (documented, not hidden): no Catalyst predicate pushdown into
the scan (filter in the kernel or pre-partition by the predicate column),
and one task per part-file rather than byte-ranged splits.  At 100 TB the
table is written with sane part-file sizes (the writer side of this repo
emits one row-group per partition file).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def parquet_files(path: str) -> list[str]:
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )
    if not files:
        raise ValueError(f"no parquet part-files under {path}")
    return files


def read_parquet_pythonside(
    spark: SparkSession, path: str, schema: str, kernel
) -> DataFrame:
    """Distributed parquet read where the BYTES never enter the JVM.

    One task per part-file: `spark.range(n, numPartitions=n)` puts exactly
    one id in each partition and the task reads `files[id]` from the
    closure, so no shuffle hands out the paths (PySpark broadcasts a
    pickled command over 1 MB, so a long file list is not copied per task).

    `kernel` (pdf -> pdf, `schema` the DDL of its OUTPUT) fuses payload
    work into the scan task itself: read + transform in one Python stage,
    so when the kernel projects the blobs away (e.g. tile encode emitting
    nbytes), the payload never crosses a process boundary at all — the
    chained alternative (scan mapInPandas -> kernel mapInPandas) would
    round-trip every blob Python -> JVM -> Python between the two nodes."""
    import pyarrow.parquet as pq

    files = parquet_files(path)

    def scan(batches):
        for pdf in batches:
            for i in pdf["id"]:
                # use_threads=False: this runs inside one of N parallel
                # Python workers — pyarrow's default per-call thread pool
                # (one per CPU) would oversubscribe N x cores. Parallelism
                # comes from Spark's task fan-out, not intra-file threads.
                yield kernel(pq.read_table(files[i], use_threads=False).to_pandas())

    return spark.range(0, len(files), 1, len(files)).mapInPandas(scan, schema=schema)
