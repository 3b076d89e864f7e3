"""Tail-percentile rule, spans, and the executed-plan metric walk (on a
stand-in for the py4j plan objects, so no Spark session is needed)."""

import math

import pytest

from perfbench import trace as tr


@pytest.mark.parametrize("n,p", [(10, None), (20, 50), (40, 75), (99, 75), (100, 90),
                                 (200, 95), (1000, 99), (10000, 99.9)])
def test_percentile_rule_examples(n, p):
    assert tr.percentile_rule(n) == p


def beyond(p, n):
    """Samples strictly above the nearest-rank percentile, by integer math."""
    return n - math.ceil(round(p * 10) * n / 1000)


def test_percentile_rule_leaves_ten_beyond():
    ladder = tr.TAIL_LADDER
    for n in range(1, 12000, 7):
        p = tr.percentile_rule(n)
        if p is None:
            assert beyond(50, n) < 10
            continue
        assert beyond(p, n) >= 10
        assert all(beyond(q, n) < 10 for q in ladder if q > p)


def test_nearest_rank():
    vals = list(range(1, 101))
    assert tr.nearest_rank(vals, 50) == 50
    assert tr.nearest_rank(vals, 90) == 90
    assert tr.nearest_rank([3.0], 99) == 3.0


def test_spans_nest_and_disable():
    t = tr.Tracer(True, run_id="r")
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s["name"], s["parent"], s["run"]) for s in t.spans] == [
        ("outer", None, "r"), ("inner", 0, "r")]
    assert all(s["end"] >= s["start"] for s in t.spans)
    off = tr.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


# --- stand-ins for py4j views of Spark plan objects -------------------------


class Seq:
    def __init__(self, items):
        self.items = list(items)

    def iterator(self):
        return Iter(self.items)


class Iter:
    def __init__(self, items):
        self.items = list(items)

    def hasNext(self):
        return bool(self.items)

    def next(self):
        return self.items.pop(0)


class KV:
    def __init__(self, k, v):
        self.k, self.v = k, v

    def _1(self):
        return self.k

    def _2(self):
        return self

    def value(self):
        return self.v


class Attr:
    def __init__(self, name):
        self.n = name

    def name(self):
        return self.n


class Node:
    def __init__(self, cls, metrics=None, children=(), output=(), plan=None):
        self.cls, self.m, self.kids, self.out, self.inner = cls, metrics or {}, children, output, plan

    def getClass(self):
        return self

    def getSimpleName(self):
        return self.cls

    def metrics(self):
        return Seq(KV(k, v) for k, v in self.m.items())

    def children(self):
        return Seq(self.kids)

    def output(self):
        return Seq(Attr(a) for a in self.out)

    def plan(self):
        return self.inner

    def executedPlan(self):
        return self.inner


def py(cls, out, total, sent=0, rows=0):
    return dict(cls=cls, output=out, metrics={
        "pythonTotalTime": total, "pythonBootTime": 1, "pythonInitTime": 2,
        "pythonDataSent": sent, "pythonDataReceived": 2 * sent, "pythonNumRowsReceived": rows})


def pip_plan():
    """AQE plan of a cell-partitioned PIP join behind two query stages,
    plus a reused exchange that must not be counted twice."""
    cover = Node(**py("MapInPandasExec", ["poly_id", "cx", "cy", "rings"], 5, rows=30),
                 children=[Node("LocalTableScanExec")])
    stage_poly = Node("ShuffleQueryStageExec", plan=Node("ShuffleExchangeExec", children=[cover]))
    points = Node("ShuffleQueryStageExec", plan=Node("ShuffleExchangeExec", children=[
        Node("WholeStageCodegenExec", {"pipelineTime": 7}, children=[Node("FileSourceScanExec")])]))
    join = Node("SortMergeJoinExec", {"numOutputRows": 400}, children=[points, stage_poly])
    exact = Node(**py("MapInPandasExec", ["point_id", "lon", "lat", "poly_id"], 11,
                      sent=3_000_000, rows=100),
                 children=[Node("WholeStageCodegenExec", {"pipelineTime": 5}, children=[join])])
    reused = Node("ReusedExchangeExec", children=[
        Node(**py("MapInPandasExec", ["poly_id", "cx", "cy", "rings"], 999, rows=999))])
    top = Node("ResultQueryStageExec", plan=Node("WholeStageCodegenExec", {"pipelineTime": 3},
                                                 children=[exact, reused]))
    return Node("AdaptiveSparkPlanExec", plan=top)


class DF:
    """Just enough of a DataFrame for the plan walkers."""

    def __init__(self, plan):
        outer = self

        class QE:
            def executedPlan(self):
                return outer.plan

        class JDF:
            def queryExecution(self):
                return QE()

        self.plan = plan
        self._jdf = JDF()


def test_walk_descends_query_stages_not_reused():
    names = [n for n, _, _ in tr.plan_nodes(pip_plan())]
    assert "AdaptiveSparkPlanExec" not in names
    assert names.count("MapInPandasExec") == 2
    assert names.count("ShuffleQueryStageExec") == 2
    assert "ReusedExchangeExec" in names and "LocalTableScanExec" in names


def test_plan_layers_sum_python_nodes_and_codegen():
    out = tr.plan_layers(DF(pip_plan()))
    assert out["arrow.py_ms"] == 16
    assert out["arrow.boot_ms"] == 2 and out["arrow.init_ms"] == 4
    assert out["arrow.sent_mb"] == 3.0 and out["arrow.recv_mb"] == 6.0
    assert out["jvm.codegen_ms"] == 15


def test_pip_layers_find_cover_exact_and_candidates():
    out = tr.pip_layers(DF(pip_plan()))
    assert out["joins.pip.cover_rows"] == 30
    assert out["joins.pip.candidate_rows"] == 400
    assert out["joins.pip.match_rows"] == 100
    assert out["joins.pip.match_ratio"] == 0.25
    assert out["joins.pip.exact_py_ms"] == 11 and out["joins.pip.sent_mb"] == 3.0
