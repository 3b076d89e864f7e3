"""Deployment shape (north rule): spark-submit --py-files with the packaged
engine, run from a foreign cwd so only the zip provides the package."""

import json
import os
import subprocess
import sys

import pyspark
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_spark_submit_pyfiles_flagship(tmp_path):
    from tools.make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "pkg.zip"))
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out_dir = str(tmp_path / "out")
    res = subprocess.run(
        [
            submit,
            "--master",
            "local[4]",
            "--py-files",
            zip_path,
            os.path.join(REPO, "jobs", "flagship_job.py"),
            "--n-images",
            "2000",
            "--out",
            out_dir,
        ],
        cwd=str(tmp_path),  # NOT the repo: the zip must be self-sufficient
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    metrics = [json.loads(l) for l in res.stdout.splitlines() if l.startswith("{")]
    assert metrics and metrics[0]["job"] == "flagship" and metrics[0]["result_rows"] > 0
    # the committed level landed with its metrics sidecar
    assert os.path.exists(os.path.join(out_dir, "level=12", "_metrics.json"))


_DAEMON_PROBE = '''
import json

import pandas as pd

from versatiles_rs_spark.session import get_spark


def probe(batches):
    import zipimport

    import submit_conf_mod  # only on the PYTHONPATH given with --conf

    flush = zipimport.zipimporter.invalidate_caches.__code__.co_filename
    for pdf in batches:
        yield pd.DataFrame({"flush": [flush + submit_conf_mod.TAG] * len(pdf)})


spark = get_spark(master="local[2]", shuffle_partitions=2)
rows = spark.range(0, 8, 1, 4).mapInPandas(probe, "flush string").collect()
print(json.dumps(sorted({r.flush for r in rows})))
spark.stop()
'''


@pytest.mark.slow
def test_spark_submit_pyfiles_daemon_imports_from_zip(tmp_path):
    """A get_spark session under spark-submit --py-files, from a foreign
    cwd: the worker daemon (spark.python.daemon.module) starts from the
    zip, and its workers run the patched import-cache flush. A PYTHONPATH
    given with --conf stays on the workers' path."""
    from tools.make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "pkg.zip"))
    script = tmp_path / "probe_job.py"
    script.write_text(_DAEMON_PROBE)
    lib = tmp_path / "lib"
    lib.mkdir()
    (lib / "submit_conf_mod.py").write_text('TAG = "+conf"\n')
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    res = subprocess.run(
        [
            submit,
            "--master",
            "local[2]",
            "--conf",
            f"spark.executorEnv.PYTHONPATH={lib}",
            "--py-files",
            zip_path,
            str(script),
        ],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    flush = [json.loads(l) for l in res.stdout.splitlines() if l.startswith("[")]
    assert flush == [[os.path.join(zip_path, "versatiles_rs_spark", "pyworker.py") + "+conf"]]


_JOB_PROBE = '''
import json

import pandas as pd

from versatiles_rs_spark.session import get_job_spark


def probe(batches):
    import zipimport

    flush = zipimport.zipimporter.invalidate_caches.__code__.co_filename
    for pdf in batches:
        yield pd.DataFrame({"flush": [flush] * len(pdf)})


spark = get_job_spark("probe")
rows = spark.range(0, 8, 1, 4).mapInPandas(probe, "flush string").collect()
print(json.dumps({
    "master": spark.sparkContext.master,
    "partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    "flush": sorted({r.flush for r in rows}),
}))
spark.stop()
'''


@pytest.mark.slow
def test_job_session_keeps_submit_conf_and_gets_daemon(tmp_path):
    """jobs/* start through session.get_job_spark: the master and settings
    given to spark-submit are kept, and on a local master the workers run
    through the pyworker daemon (from the zip, in a foreign cwd)."""
    from tools.make_pyfiles_zip import build

    zip_path = build(str(tmp_path / "pkg.zip"))
    script = tmp_path / "job_probe.py"
    script.write_text(_JOB_PROBE)
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    res = subprocess.run(
        [
            submit,
            "--master",
            "local[2]",
            "--conf",
            "spark.sql.shuffle.partitions=3",
            "--py-files",
            zip_path,
            str(script),
        ],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    out = [json.loads(l) for l in res.stdout.splitlines() if l.startswith("{")]
    assert out == [
        {
            "master": "local[2]",
            "partitions": "3",
            "flush": [os.path.join(zip_path, "versatiles_rs_spark", "pyworker.py")],
        }
    ]


def test_jobs_start_sessions_through_session_module():
    """No job builds its own SparkSession: a bare builder session misses
    the pyworker daemon, so every Python task re-reads the zips on the
    worker path."""
    jobs = os.path.join(REPO, "jobs")
    offenders = [
        f
        for f in sorted(os.listdir(jobs))
        if f.endswith(".py") and "SparkSession.builder" in open(os.path.join(jobs, f)).read()
    ]
    assert offenders == []
