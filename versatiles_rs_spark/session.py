"""SparkSession factory tuned for the tiling engine.

Defaults chosen for scale (SURVEY.md §4): AQE on (runtime re-plan + skew
join), Arrow enabled for all pandas-UDF payload kernels, bounded Arrow batch
size so grouped image mosaics stay within executor memory (the reference
bounds memory the same way with power-of-two tile blocks,
/root/reference/versatiles_pipeline/src/operations/raster/raster_overview.rs:12).
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# the directory (or, under --py-files, the zip) the engine imports from
_IMPORT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_DAEMON = "spark.python.daemon.module"
_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _worker_conf(master: str, conf: dict) -> dict:
    """Settings that start the Python workers through pyworker, which drops
    the per-task re-read of every zip on the worker path.

    The daemon module is imported before any --py-files zip is on that
    path, so the workers also need the engine's import root. That root is a
    path on this host: only a local master's workers are sure to see it, so
    any other master gets no setting. A daemon module set already (in
    `conf`, --conf or spark-defaults) is kept; the root is appended to a
    PYTHONPATH set already."""
    if not master.startswith("local"):
        return {}
    # launch the gateway with `conf` (as getOrCreate would) so SparkConf()
    # reads back what --conf and spark-defaults set
    SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))
    prior = {**dict(SparkConf().getAll()), **conf}
    out = {}
    if _DAEMON not in prior:
        out[_DAEMON] = "versatiles_rs_spark.pyworker"
    paths = [p for p in prior.get(_PYTHONPATH, "").split(os.pathsep) if p]
    if _IMPORT_ROOT not in paths:
        out[_PYTHONPATH] = os.pathsep.join([*paths, _IMPORT_ROOT])
    return out


def get_spark(
    app_name: str = "versatiles_rs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = 32
    if master.startswith("local[") and master[6:-1].isdigit():
        cores = int(master[6:-1])
    conf = {
        "spark.app.name": app_name,
        "spark.master": master,
        "spark.sql.shuffle.partitions": str(shuffle_partitions or max(cores, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # bound Arrow batches: grouped raster mosaics are ~MBs per group
        "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        **(extra_conf or {}),
    }
    conf.update(_worker_conf(master, conf))
    spark = _build(conf)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_job_spark(app_name: str, extra_conf: dict | None = None) -> SparkSession:
    """Session for a job started by spark-submit (jobs/*): the master and
    every setting the submit gave stay as they are; the only additions are
    `extra_conf` and, on a local master, the pyworker settings."""
    conf = {"spark.app.name": app_name, **(extra_conf or {})}
    SparkContext._ensure_initialized(conf=SparkConf().setAll(conf.items()))
    conf.update(_worker_conf(SparkConf().get("spark.master", ""), conf))
    return _build(conf)


def _build(conf: dict) -> SparkSession:
    builder = SparkSession.builder
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
