"""Python-side parquet scan for payload-heavy tables.

`spark.read.parquet` decodes every column in the JVM and then re-serializes
the batches over Arrow IPC into the Python workers for mapInPandas — for a
table whose weight is opaque binary blobs the JVM does 100% of the byte
work twice (parquet decode + Arrow encode) just to hand the bytes to
Python.  The scale-correct shape is the one ML ingest systems (petastorm,
NVTabular) use on Spark: ship FILE SPLITS through the JVM (a few hundred
bytes each) and let each Python worker read its split directly with
pyarrow.  Blobs then move storage -> Python once, with parquet's own
column pruning applied at the reader.

Trade-offs (documented, not hidden): no Catalyst predicate pushdown into
the scan (filter in the kernel or pre-partition by the predicate column),
and one task per row-group granularity rather than byte-ranged splits.  At
100 TB both are handled the same way the JVM scan handles them — by
writing the table with sane row-group sizes (the writer side of this repo
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
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    schema: str | None = None,
    kernel=None,
) -> DataFrame:
    """Distributed parquet read where the BYTES never enter the JVM.

    One task per part-file (the repo's writers emit evenly-sized parts; a
    100 TB table would split on row-groups the same way).  `columns` prunes
    at the pyarrow reader — the parquet footer makes that free.  `schema`
    (DDL string) overrides the inferred schema; by default it is read from
    the first file's footer driver-side (cheap: footer-only).

    `kernel` (pdf -> pdf, requires `schema` for its OUTPUT) fuses payload
    work into the scan task itself: read + transform in one Python stage,
    so when the kernel projects the blobs away (e.g. tile encode emitting
    nbytes), the payload never crosses a process boundary at all — the
    chained alternative (scan mapInPandas -> kernel mapInPandas) would
    round-trip every blob Python -> JVM -> Python between the two nodes."""
    import pyarrow.parquet as pq

    files = parquet_files(path)
    if schema is None:
        if kernel is not None:
            raise ValueError("kernel requires an explicit output schema")
        import pyarrow as pa

        file_schema = pq.read_schema(files[0])
        if columns:
            file_schema = pa.schema([file_schema.field(c) for c in columns])
        from pyspark.sql.pandas.types import from_arrow_schema

        spark_schema = from_arrow_schema(file_schema)
    else:
        spark_schema = schema

    # round-robin repartition: exactly one file per task (hash-partitioning
    # on the path column could collide two files into one straggler task).
    # A pandas frame plans as a LocalTableScan; a list of tuples would make
    # an RDD scan that runs Python tasks just to hand over the path strings.
    import pandas as pd

    paths_df = spark.createDataFrame(
        pd.DataFrame({"path": files}), "path string"
    ).repartition(len(files))

    def scan(batches):
        for pdf in batches:
            for f in pdf["path"]:
                # use_threads=False: this runs inside one of N parallel
                # Python workers — pyarrow's default per-call thread pool
                # (one per CPU) would oversubscribe N x cores. Parallelism
                # comes from Spark's task fan-out, not intra-file threads.
                tbl = pq.read_table(f, columns=columns, use_threads=False)
                out = tbl.to_pandas()
                yield kernel(out) if kernel is not None else out

    return paths_df.mapInPandas(scan, schema=spark_schema)
