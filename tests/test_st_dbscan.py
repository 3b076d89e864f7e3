"""ST-DBSCAN (joins/st_dbscan.py): exact python-replay parity on planted
space-time episodes, separation of co-located-but-time-disjoint bursts,
packing guards, and the slim-plan gate."""

import math
from datetime import datetime, timedelta

import pandas as pd
import pytest
from pyspark.sql import functions as F

from versatiles_rs_spark import guard
from versatiles_rs_spark.joins.st_dbscan import st_dbscan

BASE = datetime(2024, 3, 1)


def _df(spark, rows):
    pdf = pd.DataFrame(rows, columns=["id", "lon", "lat", "ts"])
    return spark.createDataFrame(
        pdf, schema="id long, lon double, lat double, ts timestamp"
    )


def _brute(rows, eps_s, eps_t_s, min_pts=None):
    """Textbook ST-DBSCAN with the engine's deterministic tie-breaks."""
    ids = [r[0] for r in rows]
    pos = {r[0]: (r[1], r[2], r[3].timestamp()) for r in rows}
    nbrs = {
        i: [
            j
            for j in ids
            if (pos[i][0] - pos[j][0]) ** 2 + (pos[i][1] - pos[j][1]) ** 2
            <= eps_s**2
            and abs(pos[i][2] - pos[j][2]) <= eps_t_s
        ]
        for i in ids
    }
    if min_pts is None:
        tot = sum(len(v) for v in nbrs.values())
        min_pts = int(math.floor(tot / len(ids))) + 1
    cores = {i for i in ids if len(nbrs[i]) >= min_pts}
    # union-find over core-core neighbor pairs
    parent = {i: i for i in cores}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i in cores:
        for j in nbrs[i]:
            if j in cores:
                ra, rb = find(i), find(j)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    cluster = {i: min(c for c in cores if find(c) == find(i)) for i in cores}
    out = {}
    for i in ids:
        if i in cores:
            out[i] = (cluster[i], 2)
        else:
            cands = [cluster[j] for j in nbrs[i] if j in cores and j != i]
            out[i] = (min(cands), 1) if cands else (-1, 0)
    return out, min_pts


def test_st_dbscan_matches_brute(spark):
    # two co-located bursts two weeks apart + a drifting walker + noise
    rows = []
    for k in range(6):  # burst A: tight in space and time
        rows.append((k, 10.0 + 0.1 * k, 10.0 + 0.05 * k, BASE + timedelta(hours=k)))
    for k in range(6):  # burst B: same place, 14 days later
        rows.append((10 + k, 10.0 + 0.1 * k, 10.0, BASE + timedelta(days=14, hours=k)))
    for k in range(4):  # walker: close in time, spread in space
        rows.append((20 + k, -60.0 + 5.0 * k, 0.0, BASE + timedelta(hours=k)))
    rows.append((30, 120.0, -40.0, BASE))  # lone noise
    df = _df(spark, rows)
    with guard.recording() as rec:
        got = {
            r["id"]: (r["cluster"], r["role"])
            for r in st_dbscan(df, eps_space=2.0, eps_time_s=6 * 3600).collect()
        }
    want, mp = _brute(rows, 2.0, 6 * 3600)
    assert rec["st_dbscan"]["min_pts"] == mp
    assert got == want
    # the two bursts are separate clusters despite identical locations
    a = {got[i][0] for i in range(6)}
    b = {got[10 + k][0] for k in range(6)}
    assert a != {-1} and b != {-1}
    assert a.isdisjoint(b)
    assert got[30] == (-1, 0)


def test_st_dbscan_fixed_minpts_roles(spark):
    rows = [
        (0, 0.0, 0.0, BASE),
        (1, 0.5, 0.0, BASE + timedelta(minutes=10)),
        (2, 1.0, 0.0, BASE + timedelta(minutes=20)),
        (3, 1.4, 0.0, BASE + timedelta(minutes=25)),  # border of 2's ball
        (9, 50.0, 50.0, BASE),
    ]
    got = {
        r["id"]: (r["cluster"], r["role"])
        for r in st_dbscan(
            _df(spark, rows), eps_space=0.6, eps_time_s=3600, min_pts=2
        ).collect()
    }
    want, _ = _brute(rows, 0.6, 3600, min_pts=2)
    assert got == want
    assert got[9] == (-1, 0)


def test_st_dbscan_time_guards(spark):
    rows = [(0, 0.0, 0.0, datetime(1999, 6, 1))]
    with pytest.raises(ValueError, match="2000-01-01"):
        st_dbscan(_df(spark, rows), eps_space=1.0, eps_time_s=3600)
    rows2 = [(0, 0.0, 0.0, datetime(2024, 1, 1))]
    with pytest.raises(ValueError, match="time bins"):
        st_dbscan(_df(spark, rows2), eps_space=1.0, eps_time_s=1)


def test_st_dbscan_plan_slim_exchanges(spark):
    from versatiles_rs_spark.joins.st_dbscan import st_neighbor_pairs

    rows = [(k, float(k), 0.0, BASE + timedelta(hours=k)) for k in range(10)]
    df = st_neighbor_pairs(_df(spark, rows), "id", "lon", "lat", "ts", 2.0, 7200)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
