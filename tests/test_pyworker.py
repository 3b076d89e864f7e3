"""The engine's Python worker daemon (versatiles_rs_spark/pyworker.py): a
worker's per-task import-cache flush re-reads no unchanged zip archive, and
code shipped to warm workers (addPyFile, a rewritten zip) still imports;
only a local master's workers are started through it."""

import os
import zipfile

import pandas as pd

from versatiles_rs_spark.session import _DAEMON, _IMPORT_ROOT, _PYTHONPATH, _worker_conf


def _on_worker(spark, fn, n_tasks=4):
    """fn() -> int, run once in each of n_tasks Python tasks; the values."""

    def task(batches):
        for pdf in batches:
            yield pd.DataFrame({"v": [fn()] * len(pdf)})

    df = spark.range(0, n_tasks, 1, n_tasks).mapInPandas(task, "v long")
    return [r.v for r in df.collect()]


def test_flush_reads_no_zip_directory(spark):
    """Two flushes as PySpark's worker makes before each task read no zip
    directory: every archive on the worker path (pyspark.zip, py4j, the
    spark-core jar) was read when the worker first saw it and has not
    changed since. Unpatched, each of the ~16 zipimporters re-reads its
    whole archive on every flush (32 reads here, 110-270 ms per task)."""

    def reads():
        import zipimport

        import pyspark.worker_util as wu

        n = [0]
        orig = zipimport._read_directory

        def counted(path):
            n[0] += 1
            return orig(path)

        zipimport._read_directory = counted
        try:
            wu.importlib.invalidate_caches()
            wu.importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        return n[0]

    assert _on_worker(spark, reads) == [0] * 4


def test_pyfiles_added_to_warm_workers_import(spark, tmp_path):
    """A .py module and a .zip package added with addPyFile after the
    workers have run tasks both import inside a UDF."""
    _on_worker(spark, lambda: 0)  # warm the workers first
    mod = tmp_path / "pyworker_probe_mod.py"
    mod.write_text("VALUE = 17\n")
    pkg_zip = tmp_path / "pyworker_probe_pkg.zip"
    with zipfile.ZipFile(pkg_zip, "w") as zf:
        zf.writestr("pyworker_probe_pkg/__init__.py", "VALUE = 25\n")
    spark.sparkContext.addPyFile(str(mod))
    spark.sparkContext.addPyFile(str(pkg_zip))

    def value():
        import pyworker_probe_mod
        import pyworker_probe_pkg

        return pyworker_probe_mod.VALUE + pyworker_probe_pkg.VALUE

    assert _on_worker(spark, value) == [42] * 4


def test_rewritten_zip_is_reread(spark, tmp_path):
    """A zip on the worker path that changes between flushes is re-read:
    a module that only the new archive holds imports after the flush."""
    path = str(tmp_path / "pyworker_rewrite.zip")

    def rewritten():
        import importlib
        import sys

        name = f"pyworker_new_{os.getpid()}"
        with zipfile.ZipFile(path, "w") as zf:
            zf.writestr("pyworker_old.py", "X = 1\n")
        sys.path.insert(0, path)
        try:
            __import__("pyworker_old")
            importlib.invalidate_caches()  # stamps the archive
            with zipfile.ZipFile(path, "w") as zf:
                zf.writestr("pyworker_old.py", "X = 1\n")
                zf.writestr(f"{name}.py", "X = 2\n")
            importlib.invalidate_caches()
            return __import__(name).X
        finally:
            sys.path.remove(path)
            sys.path_importer_cache.pop(path, None)
            sys.modules.pop("pyworker_old", None)
            sys.modules.pop(name, None)

    assert _on_worker(spark, rewritten, n_tasks=1) == [2]


def test_non_local_master_gets_no_worker_setting():
    """The import root is a path on the driver's host, which executors on
    other hosts need not have: a non-local master keeps Spark's own daemon
    and the PYTHONPATH its cluster manager sets."""
    for master in ("yarn", "spark://host:7077", "k8s://https://host:6443", "mesos://host:5050"):
        assert _worker_conf(master, {}) == {}


def test_local_master_keeps_settings_made_already(spark):
    """A local master gets the daemon and the import root; the root is
    appended to a PYTHONPATH set already, and a daemon module set already
    is kept."""
    assert _worker_conf("local[2]", {}) == {
        _DAEMON: "versatiles_rs_spark.pyworker",
        _PYTHONPATH: _IMPORT_ROOT,
    }
    assert _worker_conf("local[2]", {_PYTHONPATH: "lib_a"}) == {
        _DAEMON: "versatiles_rs_spark.pyworker",
        _PYTHONPATH: os.pathsep.join(["lib_a", _IMPORT_ROOT]),
    }
    preset = {_DAEMON: "custom.daemon", _PYTHONPATH: os.pathsep.join([_IMPORT_ROOT, "lib_a"])}
    assert _worker_conf("local-cluster[2,1,1024]", preset) == {}
