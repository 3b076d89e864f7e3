"""guard.collect_small: the one limit probe behind every guarded driver
solve.  Structural pins, no wall clock: one Spark job per probe, and no
hand-rolled probe left anywhere else in the package."""
import pathlib
import re

from versatiles_rs_spark import guard

PKG = pathlib.Path(__file__).resolve().parent.parent / "versatiles_rs_spark"
# .limit(<expr> + 1), allowing one level of parentheses inside <expr>
_PROBE = re.compile(r"\.limit\((?:[^()]|\([^()]*\))*\+\s*1\s*\)")


def test_collect_small_runs_one_job(spark):
    """A short relation comes back as a frame, an overflow as None —
    either way in exactly one Spark job (never count() then collect())."""
    df = spark.range(0, 100, 1, 4)
    tracker = spark.sparkContext.statusTracker()
    for max_rows, want in ((100, list(range(100))), (99, None), (0, None)):
        before = set(tracker.getJobIdsForGroup(None))
        got = guard.collect_small(df, max_rows)
        # new ids, not a length difference: the status store evicts old jobs
        assert len(set(tracker.getJobIdsForGroup(None)) - before) == 1
        assert (None if got is None else sorted(got["id"].tolist())) == want


def test_no_hand_rolled_limit_probe():
    hits = [
        f"{path.relative_to(PKG)}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "guard.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if _PROBE.search(line)
    ]
    assert hits == [], "route these probes through guard.collect_small"
