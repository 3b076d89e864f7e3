"""Measurement plumbing kept outside the engine: spans, Spark job-group
counts, executed-plan SQL metrics and a peak-RSS sampler.

Spans are recorded around calls into the engine's public functions from
the benchmark's own files; nothing here patches or instruments the
engine package.
"""

from __future__ import annotations

import contextlib
import json
import math
import threading
import time
import uuid

# Python plan nodes whose SQL metrics make up the Arrow boundary layer
PYTHON_NODES = (
    "MapInPandasExec",
    "MapInArrowExec",
    "PythonMapInArrowExec",
    "ArrowEvalPythonExec",
    "FlatMapGroupsInPandasExec",
    "FlatMapGroupsInArrowExec",
)


class Tracer:
    """In-memory spans (name, start, end, parent, run id).

    A disabled tracer times and records nothing, so the same
    workload code runs untraced for the end-to-end metrics."""

    def __init__(self, enabled: bool, run_id: str | None = None):
        self.enabled = enabled
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        with self._lock:
            idx = len(self.spans)
            parent = self._stack[-1] if self._stack else None
            self.spans.append(
                {"id": idx, "name": name, "parent": parent, "run": self.run_id,
                 "start": time.perf_counter(), "end": None}
            )
            self._stack.append(idx)
        try:
            yield
        finally:
            with self._lock:
                self.spans[idx]["end"] = time.perf_counter()
                self._stack.remove(idx)

    def total(self, name: str) -> float:
        """Summed duration (s) of every span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra},
                      f, indent=1, default=float)


# ---------------------------------------------------------------------------
# resident memory
# ---------------------------------------------------------------------------


def rss_mb(pid: int | str = "self") -> float:
    """Resident set size of a process in MB, from /proc (0 if unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssPeak:
    """Samples the RSS of one process every 20 ms on a background thread
    while the context is open; ``peak`` holds the highest value seen."""

    def __init__(self, pid: int | str):
        self.pid = pid
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self):
        self.peak = max(self.peak, rss_mb(self.pid))

    def _run(self):
        while not self._stop.wait(0.02):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return False


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# ---------------------------------------------------------------------------
# Spark job groups and the status store
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag every job the block starts (on this thread) with ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def group_stats(spark, group: str) -> dict[str, float]:
    """jobs, stages, tasks, failed tasks, summed task run time and shuffle
    bytes written by every job of a job group (from statusTracker and the
    application status store; works with the UI disabled)."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    no_tasks = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    jobs = st.getJobIdsForGroup(group)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0,
           "task_busy_s": 0.0, "shuffle_write_mb": 0.0}
    stage_ids = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    for sid in stage_ids:
        attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
        for k in range(attempts.size()):
            sd = attempts.apply(k)
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(sd.numCompleteTasks()) + int(sd.numFailedTasks())
            out["failed_tasks"] += int(sd.numFailedTasks())
            out["task_busy_s"] += int(sd.executorRunTime()) / 1000.0
            out["shuffle_write_mb"] += int(sd.shuffleWriteBytes()) / 1e6
    return out


# ---------------------------------------------------------------------------
# executed-plan SQL metrics
# ---------------------------------------------------------------------------


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def node_metrics(node) -> dict[str, int]:
    return {kv._1(): int(kv._2().value()) for kv in _scala_iter(node.metrics())}


def plan_nodes(plan):
    """Yield (class_name, node, depth) for every node of an executed plan,
    descending through AdaptiveSparkPlanExec's final plan and into every
    query stage (``*QueryStageExec.plan``). Reused exchanges are not
    descended: their metrics belong to the stage that ran them."""
    stack = [(plan, 0)]
    while stack:
        node, depth = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append((node.executedPlan(), depth))
            continue
        yield name, node, depth
        if name.endswith("QueryStageExec"):
            stack.append((node.plan(), depth + 1))
            continue
        if name == "ReusedExchangeExec":
            continue
        kids = list(_scala_iter(node.children()))
        for k in reversed(kids):
            stack.append((k, depth + 1))


def output_names(node) -> list[str]:
    return [a.name() for a in _scala_iter(node.output())]


def plan_layers(df) -> dict[str, float]:
    """Arrow-boundary and codegen totals of a DataFrame's executed plan
    (valid after an action on that same DataFrame object)."""
    out = {"arrow.boot_ms": 0.0, "arrow.init_ms": 0.0, "arrow.py_ms": 0.0,
           "arrow.sent_mb": 0.0, "arrow.recv_mb": 0.0, "jvm.codegen_ms": 0.0}
    for name, node, _ in plan_nodes(df._jdf.queryExecution().executedPlan()):
        m = node_metrics(node)
        if name in PYTHON_NODES:
            out["arrow.boot_ms"] += m.get("pythonBootTime", 0)
            out["arrow.init_ms"] += m.get("pythonInitTime", 0)
            out["arrow.py_ms"] += m.get("pythonTotalTime", 0)
            out["arrow.sent_mb"] += m.get("pythonDataSent", 0) / 1e6
            out["arrow.recv_mb"] += m.get("pythonDataReceived", 0) / 1e6
        elif name == "WholeStageCodegenExec":
            out["jvm.codegen_ms"] += m.get("pipelineTime", 0)
    return out


_JOINS = ("SortMergeJoinExec", "ShuffledHashJoinExec", "BroadcastHashJoinExec")


def pip_layers(df) -> dict[str, float]:
    """The cell-partitioned PIP join's own counts, found by shape: the
    cover node is the Python map that emits ``cx``; the exact node is the
    Python map that emits ``poly_id`` above the equi-join; candidates are
    that join's output rows."""
    out = {"joins.pip.cover_rows": 0.0, "joins.pip.candidate_rows": 0.0,
           "joins.pip.match_rows": 0.0, "joins.pip.sent_mb": 0.0,
           "joins.pip.exact_py_ms": 0.0}
    exact_depth = None
    for name, node, depth in plan_nodes(df._jdf.queryExecution().executedPlan()):
        if exact_depth is not None and depth <= exact_depth:
            exact_depth = None
        if name in PYTHON_NODES:
            cols = output_names(node)
            m = node_metrics(node)
            if "cx" in cols:
                out["joins.pip.cover_rows"] += m.get("pythonNumRowsReceived", 0)
            elif "poly_id" in cols and "rings" not in cols:
                out["joins.pip.match_rows"] += m.get("pythonNumRowsReceived", 0)
                out["joins.pip.sent_mb"] += m.get("pythonDataSent", 0) / 1e6
                out["joins.pip.exact_py_ms"] += m.get("pythonTotalTime", 0)
                exact_depth = depth
        elif name in _JOINS and exact_depth is not None:
            out["joins.pip.candidate_rows"] += node_metrics(node).get("numOutputRows", 0)
            exact_depth = None
    cand = out["joins.pip.candidate_rows"]
    out["joins.pip.match_ratio"] = out["joins.pip.match_rows"] / cand if cand else 0.0
    return out


def scan_layers(df) -> dict[str, float]:
    """Rows and Python time of the fused Arrow scan (the Python map fed by
    the one-path-per-task file list)."""
    out = {"sources.arrow_scan.rows": 0.0, "sources.arrow_scan.py_ms": 0.0}
    for name, node, _ in plan_nodes(df._jdf.queryExecution().executedPlan()):
        if name in PYTHON_NODES and "phash" in output_names(node):
            m = node_metrics(node)
            out["sources.arrow_scan.rows"] += m.get("pythonNumRowsReceived", 0)
            out["sources.arrow_scan.py_ms"] += m.get("pythonTotalTime", 0)
    return out


def _rank(p: float, n: int) -> int:
    """Nearest rank (1-based) of percentile ``p`` among ``n`` samples; the
    epsilon keeps 99.9% of 10000 at rank 9990, not 9991."""
    return max(1, math.ceil(p / 100.0 * n - 1e-9))


TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)


def percentile_rule(n: int) -> float | None:
    """Highest percentile in TAIL_LADDER that leaves at least 10 samples
    above it at sample count ``n`` (nearest rank), or None."""
    best = None
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= 10:
            best = p
    return best


def nearest_rank(values: list[float], p: float) -> float:
    return sorted(values)[_rank(p, len(values)) - 1]
