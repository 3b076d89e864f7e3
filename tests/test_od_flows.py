"""OD flow matrix (functions/sessions.py::od_flows): planted-trajectory
parity, tie-break determinism, self-flow diagonal, plan gates."""

import datetime

from pyspark.sql import functions as F

from versatiles_rs_spark import guard
from versatiles_rs_spark.functions.sessions import od_flows

T0 = datetime.datetime(2024, 5, 1, 8, 0, 0)


def _mk(spark, rows):
    """rows: (event_id, user_id, minutes_offset, lon, lat)"""
    data = [
        (eid, uid, T0 + datetime.timedelta(minutes=m), float(lon), float(lat))
        for eid, uid, m, lon, lat in rows
    ]
    return spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp_ntz, lon double, lat double"
    )


def _flows(df, zoom=3):
    return {
        (r["o_x"], r["o_y"], r["d_x"], r["d_y"]): (r["n_trips"], r["n_users"])
        for r in od_flows(df, zoom=zoom).collect()
    }


def test_planted_trips(spark):
    # user 1: one session moving from west (-90) to east (+90); a >30 min
    # gap then a second session staying east (self flow).
    # user 2: one west->east trip in a single session.
    rows = [
        (1, 1, 0, -90.0, 0.0),
        (2, 1, 10, 0.0, 0.0),
        (3, 1, 20, 90.0, 0.0),
        (4, 1, 60, 90.0, 0.0),   # gap 40 min -> new session, single event
        (5, 2, 0, -90.0, 0.0),
        (6, 2, 15, 90.0, 0.0),
    ]
    got = _flows(_mk(spark, rows), zoom=3)
    # zoom 3: lon -90 -> x=2, lon 90 -> x=6; lat 0 -> y=4
    assert got[(2, 4, 6, 4)] == (2, 2)  # west->east by both users
    assert got[(6, 4, 6, 4)] == (1, 1)  # user 1's second-session self flow
    assert len(got) == 2


def test_tied_timestamps_resolve_by_event_id(spark):
    # two events at the identical timestamp: (us, event_id) ordering makes
    # the smaller id the origin and the larger the destination
    rows = [
        (10, 7, 0, -90.0, 0.0),
        (11, 7, 0, 90.0, 0.0),
    ]
    got = _flows(_mk(spark, rows), zoom=3)
    assert got == {(2, 4, 6, 4): (1, 1)}


def test_single_event_sessions_are_diagonal(spark):
    rows = [(i, i, 0, 45.0, 45.0) for i in range(5)]
    got = _flows(_mk(spark, rows), zoom=3)
    ((o_x, o_y, d_x, d_y), (n_trips, n_users)), = got.items()
    assert (o_x, o_y) == (d_x, d_y) and n_trips == 5 and n_users == 5


def test_plan_gates(spark):
    df = _mk(spark, [(1, 1, 0, 0.0, 0.0), (2, 1, 5, 10.0, 10.0)])
    plan = od_flows(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_flow_tiles_payload_roundtrip(spark):
    """flows_to_vector_tiles: exact cell-center lines, dual-tile emission,
    out-of-bounds far endpoints, self-flow tick, deterministic bytes."""
    from versatiles_rs_spark.vector_tile import (
        decode_vector_tile,
        flows_to_vector_tiles,
    )

    flows = spark.createDataFrame(
        [
            (0, 0, 5, 6, 3, 2),     # crosses tiles (4,0,0) -> (4,1,1)
            (2, 2, 2, 2, 1, 1),     # self flow inside (4,0,0)
            (63, 63, 63, 60, 2, 2), # within tile (4,15,15)
        ],
        "o_x long, o_y long, d_x long, d_y long, n_trips long, n_users long",
    )
    rows = {
        (r["z"], r["x"], r["y"]): r
        for r in flows_to_vector_tiles(flows, cell_zoom=6, render_zoom=4).collect()
    }
    assert set(rows) == {(4, 0, 0), (4, 1, 1), (4, 15, 15)}
    # the crossing flow appears in BOTH endpoint tiles
    assert rows[(4, 0, 0)]["n_features"] == 2  # crossing + self
    assert rows[(4, 1, 1)]["n_features"] == 1
    layers = decode_vector_tile(bytes(rows[(4, 0, 0)]["bytes"]))
    feats = layers[0]["features"]
    # flow (0,0)->(5,6): centers at 1024-px cells, half = 512
    line = feats[0]["geometry"][0]
    assert line == [(512, 512), (5 * 1024 + 512, 6 * 1024 + 512)]
    assert feats[0]["props"]["n_trips"] == "3"
    # in tile (4,1,1) the same flow's origin is OUT OF BOUNDS (negative)
    far = decode_vector_tile(bytes(rows[(4, 1, 1)]["bytes"]))[0]["features"][0]
    (ox, oy), (dx_, dy_) = far["geometry"][0]
    assert ox < 0 and oy < 0 and 0 <= dx_ <= 4096
    # self flow renders a 1px tick, not a zero-length line
    self_line = feats[1]["geometry"][0]
    assert self_line[0] != self_line[1]
    assert abs(self_line[1][0] - self_line[0][0]) == 1


def test_pagerank_reference_parity(spark):
    """Fixed-point PageRank vs an exact python replay on a planted graph:
    hub cell dominates, dangling mass absorbs, ints match exactly."""
    from versatiles_rs_spark.functions.graph import pagerank_flows

    # star into (5,5) plus a chain and a dangling sink
    flows = [
        (0, 0, 5, 5, 10, 3),
        (1, 1, 5, 5, 7, 2),
        (2, 2, 5, 5, 3, 1),
        (5, 5, 9, 9, 4, 2),   # hub passes some rank on
        (9, 9, 9, 9, 1, 1),   # self loop on the sink
        (3, 3, 1, 1, 2, 1),
    ]
    df = spark.createDataFrame(
        flows, "o_x long, o_y long, d_x long, d_y long, n_trips long, n_users long"
    )
    with guard.recording() as rec:
        got = {
            (r["x"], r["y"]): r["pr"]
            for r in pagerank_flows(df, iterations=10).collect()
        }

    # exact python replay (same integer ops)
    scale, d = 1_000_000_000_000, 85
    edges = [((o1, o2), (d1, d2), w) for o1, o2, d1, d2, w, _ in flows]
    nodes = sorted({e[0] for e in edges} | {e[1] for e in edges})
    n = len(nodes)
    assert rec["pagerank_flows"]["nodes"] == n
    ow = {}
    for u, _, w in edges:
        ow[u] = ow.get(u, 0) + w
    pr = {v: scale // n for v in nodes}
    base = (scale * (100 - d) // 100) // n
    for _ in range(10):
        new = {v: base for v in nodes}
        for u, v, w in edges:
            new[v] += ((pr[u] * d // 100) * w) // ow[u]
        pr = new
    assert got == pr
    # the star hub out-ranks everything except possibly the sink it feeds
    hub = got[(5, 5)]
    assert hub > got[(0, 0)] and hub > got[(1, 1)] and hub > got[(3, 3)]
    # total rank bounded by scale (dangling absorption only shrinks it)
    assert sum(got.values()) <= scale


def test_pagerank_overflow_guard(spark):
    """An edge weight big enough that (pr*d//100)*w could wrap int64 must
    raise loudly instead of silently diverging from the DuckDB oracle
    (Spark wraps, DuckDB raises — the hash contract would break without a
    signal)."""
    import pytest

    from versatiles_rs_spark.functions.graph import pagerank_flows

    big_w = 2**63 // (850_000_000_000) + 1  # > 2^63 / (scale*0.85)
    df = spark.createDataFrame(
        [(0, 0, 1, 1, big_w, 1), (1, 1, 0, 0, 1, 1)],
        "o_x long, o_y long, d_x long, d_y long, n_trips long, n_users long",
    )
    with pytest.raises(ValueError, match="overflow int64"):
        pagerank_flows(df, iterations=1)
    # and a safe scale passes the guard
    out = pagerank_flows(df, iterations=1, scale=1_000_000)
    assert out.count() == 2


def test_lpa_reference_parity(spark):
    """Synchronous weighted LPA vs exact python replay: two dense cliques
    joined by a weak bridge collapse into two communities."""
    from versatiles_rs_spark.functions.graph import label_propagation_flows

    flows = [
        # clique A around (0,0)-(1,1) with heavy mutual trips
        (0, 0, 1, 0, 9, 1), (1, 0, 1, 1, 9, 1), (1, 1, 0, 0, 9, 1),
        # clique B around (9,9)-(10,10)
        (9, 9, 10, 9, 9, 1), (10, 9, 10, 10, 9, 1), (10, 10, 9, 9, 9, 1),
        # weak bridge
        (1, 1, 9, 9, 1, 1),
    ]
    df = spark.createDataFrame(
        flows, "o_x long, o_y long, d_x long, d_y long, n_trips long, n_users long"
    )
    rounds = 5
    got = {
        (r["x"], r["y"]): r["community"]
        for r in label_propagation_flows(df, rounds=rounds).collect()
    }

    # python replay of the exact update rule
    pack = 1 << 21
    sym: dict = {}
    for o1, o2, d1, d2, w, _ in flows:
        a, b = o1 * pack + o2, d1 * pack + d2
        for v, u in ((a, b), (b, a)):
            sym[(v, u)] = sym.get((v, u), 0) + w
    nodes = sorted({v for v, _ in sym})
    lab = {v: v for v in nodes}
    for _ in range(rounds):
        new = {}
        for v in nodes:
            votes: dict = {}
            for (vv, u), w in sym.items():
                if vv == v:
                    votes[lab[u]] = votes.get(lab[u], 0) + w
            best = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            new[v] = best
        lab = new
    want = {(v // pack, v % pack): lab[v] for v in nodes}
    assert got == want
    # the two cliques form distinct communities
    comA = {got[(0, 0)], got[(1, 0)], got[(1, 1)]}
    comB = {got[(9, 9)], got[(10, 9)], got[(10, 10)]}
    assert len(comA) == 1 and len(comB) == 1 and comA != comB


def test_shortest_paths_reference_parity(spark):
    """Bounded-hop Bellman-Ford vs an exact python replay on a planted
    graph: hub source selection, integer impedances, hop bound."""
    from versatiles_rs_spark.functions.graph import shortest_paths_flows

    # hub (5,5) with a heavy star, a cheap 2-hop corridor, a far chain
    # that only resolves within the hop budget, and noise self loops
    flows = [
        (5, 5, 1, 1, 100, 9),   # hub -> (1,1), very cheap edge
        (5, 5, 2, 2, 60, 3),    # hub strength 160 > (1,1)'s 150
        (1, 1, 3, 3, 50, 4),    # corridor continues
        (3, 3, 4, 4, 2, 1),
        (4, 4, 6, 6, 1, 1),     # 4 hops out
        (6, 6, 7, 7, 1, 1),     # 5 hops out
        (7, 7, 8, 8, 1, 1),     # 6 hops out — last reachable at rounds=6
        (8, 8, 9, 9, 1, 1),     # 7 hops — must NOT appear
        (5, 5, 5, 5, 500, 9),   # self loop: ignored for strength AND edges
        (2, 2, 2, 2, 400, 9),
    ]
    df = spark.createDataFrame(
        flows, "o_x long, o_y long, d_x long, d_y long, n_trips long, n_users long"
    )
    got = {
        (r["x"], r["y"]): r["dist"]
        for r in shortest_paths_flows(df, rounds=6).collect()
    }

    # python replay: symmetrize w/o self loops, cost = 1e6//w + 1
    import collections
    w = collections.Counter()
    for ox, oy, dx, dy, t, _ in flows:
        if (ox, oy) != (dx, dy):
            w[((ox, oy), (dx, dy))] += t
            w[((dx, dy), (ox, oy))] += t
    cost = {k: 10**6 // v + 1 for k, v in w.items()}
    strength = collections.Counter()
    for (u, _v), ww in w.items():
        strength[u] += ww
    src = max(strength, key=lambda u: (strength[u], -(u[0] * 2**21 + u[1])))
    assert src == (5, 5)
    dist = {src: 0}
    for _ in range(6):
        nd = dict(dist)
        for (u, v), c in cost.items():
            if u in dist and dist[u] + c < nd.get(v, 1 << 62):
                nd[v] = dist[u] + c
        dist = nd
    assert got == dist
    assert (9, 9) not in got           # beyond the hop budget
    assert got[(5, 5)] == 0
    assert got[(1, 1)] == 10**6 // 100 + 1
    assert got[(2, 2)] == 10**6 // 60 + 1


def test_reach_tiles_payload_decodes(spark):
    """The reach_tiles isochrone composition's MVT payload round-trips:
    layer name, feature count, polygon type, dist property (the oracle
    verifies per-tile stats; this pins the bytes)."""
    from versatiles_rs_spark.functions.graph import shortest_paths_flows
    from versatiles_rs_spark.vector_tile import (
        POLYGON,
        cells_to_choropleth_tiles,
        decode_tile_payload,
    )

    flows = [
        (5, 5, 6, 5, 40, 4),
        (6, 5, 7, 6, 10, 2),
        (5, 5, 9, 9, 5, 1),
    ]
    df = spark.createDataFrame(
        flows, "o_x long, o_y long, d_x long, d_y long, n_trips long, n_users long"
    )
    cells = shortest_paths_flows(df, rounds=6)
    tiles = cells_to_choropleth_tiles(
        cells.select("x", "y", "dist"), cell_zoom=6, render_zoom=4,
        value_cols=("dist",), layer="reach",
    ).collect()
    assert tiles
    total_feats = sum(t.n_features for t in tiles)
    assert total_feats == cells.count()
    layers, _fmt = decode_tile_payload(bytes(tiles[0].bytes))
    (layer,) = layers
    assert layer["name"] == "reach"
    f = layer["features"][0]
    assert f["type"] == POLYGON and int(f["props"]["dist"]) >= 0
