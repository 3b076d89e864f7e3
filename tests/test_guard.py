"""guard.collect_small: the one limit probe behind every guarded driver
solve, and guard.note / guard.recording: the one channel operators report
through.  Structural pins, no wall clock: one Spark job per probe, no
hand-rolled probe or `metrics` out-parameter left anywhere else in the
package, and a note never costs a Spark job."""
import ast
import contextlib
import pathlib
import re
import threading

import pytest

from versatiles_rs_spark import guard

PKG = pathlib.Path(__file__).resolve().parent.parent / "versatiles_rs_spark"
# .limit(<expr> + 1), allowing one level of parentheses inside <expr>
_PROBE = re.compile(r"\.limit\((?:[^()]|\([^()]*\))*\+\s*1\s*\)")


def test_collect_small_runs_one_job(spark):
    """A short relation comes back as a frame, an overflow as None —
    either way in exactly one Spark job (never count() then collect()) —
    and the probe notes which path its caller takes."""
    df = spark.range(0, 100, 1, 4)
    tracker = spark.sparkContext.statusTracker()
    for max_rows, want in ((100, list(range(100))), (99, None), (0, None)):
        before = set(tracker.getJobIdsForGroup(None))
        with guard.recording() as rec:
            got = guard.collect_small(df, max_rows, "probe")
        # new ids, not a length difference: the status store evicts old jobs
        assert len(set(tracker.getJobIdsForGroup(None)) - before) == 1
        assert (None if got is None else sorted(got["id"].tolist())) == want
        assert rec["probe"] == (
            {"path": "distributed"} if want is None else {"path": "driver", "rows": 100}
        )


def test_no_hand_rolled_limit_probe():
    hits = [
        f"{path.relative_to(PKG)}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "guard.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if _PROBE.search(line)
    ]
    assert hits == [], "route these probes through guard.collect_small"


def test_no_metrics_out_parameter():
    hits = [
        f"{path.relative_to(PKG)}:{node.lineno} {getattr(node, 'name', 'lambda')}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda))
        for arg in node.args.posonlyargs + node.args.args + node.args.kwonlyargs
        if arg.arg == "metrics"
    ]
    assert hits == [], "report through guard.note, not an out-parameter"


def test_note_channel_contract():
    """Dropped with no recording open; every open recording of this
    context receives it (fields merge, the later value wins); a note from
    another thread reaches none of them."""
    guard.note("op", lost=1)
    with guard.recording() as outer:
        guard.note("op", a=1)
        with guard.recording() as inner:
            guard.note("op", b=2)
            t = threading.Thread(target=guard.note, args=("op",), kwargs={"c": 3})
            t.start()
            t.join()
        guard.note("op", a=4)
    guard.note("op", after=5)
    assert outer == {"op": {"a": 4, "b": 2}}
    assert inner == {"op": {"b": 2}}


@pytest.mark.parametrize("forced", [False, True], ids=["driver", "distributed"])
def test_guarded_ops_report_path(spark, force_distributed, forced):
    """connected_components and d8_basins note which branch ran: the
    driver solve with its row count, or the distributed rounds."""
    from versatiles_rs_spark.functions.graph import connected_components
    from versatiles_rs_spark.operators.focal import d8_basins

    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    succ = spark.createDataFrame([(1, 2), (2, 3), (3, 3)], "id long, succ long")
    with guard.recording() as rec, (
        force_distributed() if forced else contextlib.nullcontext()
    ):
        connected_components(pairs)
        d8_basins(succ)
    for op in ("connected_components", "d8_basins"):
        if forced:
            assert rec[op]["path"] == "distributed" and rec[op]["rounds"] >= 1
        else:
            assert rec[op]["path"] == "driver" and rec[op]["rows"] == 3


def test_recording_runs_no_spark_job(spark, force_distributed):
    """strahler_order's relax path runs the same Spark jobs whether or
    not a recording is open: its notes only carry counts it already has."""
    from pyspark.sql import functions as F

    from versatiles_rs_spark.operators.hydro import strahler_order

    ids = spark.range(1, 1 << 7)
    universe = ids.select(
        "id",
        F.when(F.col("id") == 1, F.col("id")).otherwise(F.expr("id div 2")).alias("succ"),
    )
    streams = ids.filter((F.col("id") * 2654435761) % 7 != 0)
    tracker = spark.sparkContext.statusTracker()

    def jobs() -> int:
        before = set(tracker.getJobIdsForGroup(None))
        with force_distributed():
            strahler_order(universe, streams)
        return len(set(tracker.getJobIdsForGroup(None)) - before)

    # asynchronous broadcast-exchange jobs make the count vary by one from
    # run to run; with shuffle joins it is exact
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plain = jobs()
        with guard.recording() as rec:
            recorded = jobs()
    finally:
        spark.conf.set(key, prev)
    assert rec["strahler_order"]["path"] == "distributed"
    assert rec["strahler_order"]["rounds"] >= 1
    assert recorded == plain
