"""Spatial join tests: PIP (in-task probe + cell-partitioned) against a
pure-python oracle, kNN cell-pruned against brute force."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from versatiles_rs_spark.fixtures import polygons_pdf
from versatiles_rs_spark.joins.knn import knn_bruteforce, knn_cell_pruned
from versatiles_rs_spark.joins.pip import (
    pip_join_polygons_partitioned,
    pip_join_rects,
    points_in_polygon,
    points_in_polygon_multi,
    polygon_probe,
)
from versatiles_rs_spark.udfs import schema_with


def test_ray_casting_square():
    ring = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    px = np.array([5.0, 15.0, -1.0, 9.99])
    py = np.array([5.0, 5.0, 5.0, 9.99])
    assert points_in_polygon(px, py, ring).tolist() == [True, False, False, True]


def test_ray_casting_hole():
    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], dtype=float)
    px = np.array([5.0, 2.0])
    py = np.array([5.0, 2.0])
    got = points_in_polygon_multi(px, py, [outer, hole])
    assert got.tolist() == [False, True]  # center is inside the hole


def test_ray_casting_lshape():
    ring = np.array([[0, 0], [10, 0], [10, 5], [5, 5], [5, 10], [0, 10], [0, 0]], dtype=float)
    px = np.array([7.0, 7.0, 2.0])
    py = np.array([2.0, 7.0, 7.0])
    assert points_in_polygon(px, py, ring).tolist() == [True, False, True]


def _points_df(spark, n=2000, seed=42):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "pid": np.arange(n),
            "lon": rng.uniform(-170, 170, n),
            "lat": rng.uniform(-80, 80, n),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _oracle_pip(pdf, polys):
    hits = []
    for _, r in polys.iterrows():
        rings = [np.asarray(ring, float) for ring in r.rings]
        m = points_in_polygon_multi(pdf.lon.to_numpy(), pdf.lat.to_numpy(), rings)
        for pid in pdf.pid.to_numpy()[m]:
            hits.append((int(pid), r.poly_id))
    return sorted(hits)


def test_pip_broadcast_matches_oracle(spark):
    """The small-layer path: the layer rides in the kernel's closure and
    each task probes its own batches (polygon_probe)."""
    df, pdf = _points_df(spark)
    polys = polygons_pdf(40)
    probe = polygon_probe(polys)
    got = df.mapInPandas(
        lambda batches: (probe(b) for b in batches),
        schema=schema_with(df.schema, ("poly_id", "string")),
    )
    got_pairs = sorted((int(r.pid), r.poly_id) for r in got.collect())
    assert got_pairs == _oracle_pip(pdf, polys)
    assert len(got_pairs) > 50  # meaningful coverage


def _probe_pairs(probe, pdf):
    out = probe(pdf)
    return sorted(zip(out.pid.astype(int), out.poly_id))


def test_polygon_probe_edge_cases_match_oracle():
    """Seeded random points plus every vertex and edge midpoint of the
    layer (the tile-aligned j == 0 box, the j % 7 == 0 holes, L-shapes) and
    points in two overlapping polygons: the probe's pairs equal the
    brute-force even-odd test, pair for pair."""
    rng = np.random.default_rng(11)
    layer = polygons_pdf(30)
    overlap = pd.DataFrame(
        {
            "poly_id": ["ovA", "ovB"],
            "rings": [
                [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]],
                [[[5.0, 5.0], [15.0, 5.0], [15.0, 15.0], [5.0, 15.0], [5.0, 5.0]]],
            ],
            "zone": ["z", "z"],
        }
    )
    polys = pd.concat([layer, overlap], ignore_index=True)
    verts = np.array([p for rings in polys.rings for ring in rings for p in ring])
    mids = np.array(
        [
            [(a[0] + b[0]) / 2, (a[1] + b[1]) / 2]
            for rings in polys.rings
            for ring in rings
            for a, b in zip(ring[:-1], ring[1:])
        ]
    )
    rnd = np.column_stack([rng.uniform(-170, 170, 3000), rng.uniform(-80, 80, 3000)])
    # inside both ovA and ovB, inside ovA's bbox only, on ovB's corner
    extra = np.array([[7.0, 7.0], [2.0, 2.0], [5.0, 5.0], [10.0, 10.0]])
    xy = np.vstack([rnd, verts, mids, extra])
    pdf = pd.DataFrame({"pid": np.arange(len(xy)), "lon": xy[:, 0], "lat": xy[:, 1]})
    probe = polygon_probe(polys)

    got = _probe_pairs(probe, pdf)
    assert got == _oracle_pip(pdf, polys)
    hits = {pid for pid, _ in got}
    assert {poly for _, poly in got} >= {"poly000000", "poly000007", "ovA", "ovB"}
    both = len(xy) - 4  # (7, 7) lies in both overlapping squares: two rows
    assert [p for p in got if p[0] == both] == [(both, "ovA"), (both, "ovB")]
    assert any(pid >= len(rnd) for pid in hits)  # some vertex/edge points hit

    # an empty batch and a batch with no hit keep the input columns, the
    # appended poly_id and their dtypes
    for batch in (pdf.iloc[:0], pd.DataFrame({"pid": [1, 2], "lon": [179.5, -179.5], "lat": [89.0, -89.0]})):
        out = probe(batch)
        assert len(out) == 0
        assert list(out.columns) == ["pid", "lon", "lat", "poly_id"]
        assert out.dtypes["lon"] == np.float64 and out.dtypes["pid"] == batch.dtypes["pid"]
        assert out.dtypes["poly_id"] == object


def test_pip_partitioned_matches_broadcast(spark):
    df, pdf = _points_df(spark)
    polys = polygons_pdf(40)
    polys_df = spark.createDataFrame(
        polys, schema="poly_id string, rings array<array<array<double>>>, zone string"
    )
    got = pip_join_polygons_partitioned(df, polys_df, cell_zoom=4)
    got_pairs = sorted((int(r.pid), r.poly_id) for r in got.collect())
    assert got_pairs == _oracle_pip(pdf, polys)


def test_pip_rects_half_open(spark):
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": [1, 2], "lon": [0.0, 10.0], "lat": [5.0, 5.0]})
    )
    rects = spark.createDataFrame(
        pd.DataFrame(
            {"zone": ["a"], "lon_min": [0.0], "lon_max": [10.0], "lat_min": [0.0], "lat_max": [10.0]}
        )
    )
    got = pip_join_rects(pts, rects).select("pid").collect()
    assert [r.pid for r in got] == [1]  # max edge exclusive


def test_knn_cell_pruned_matches_bruteforce(spark):
    rng = np.random.default_rng(7)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": np.arange(3000),
                "lon": rng.uniform(-170, 170, 3000),
                "lat": rng.uniform(-80, 80, 3000),
            }
        )
    )
    qs = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": np.arange(8),
                "qlon": rng.uniform(-150, 150, 8),
                "qlat": rng.uniform(-70, 70, 8),
            }
        )
    )
    brute = {(r.query_id, r.rank): r.event_id for r in knn_bruteforce(pts, qs, k=5).collect()}
    # 3000 points over the globe -> z3 cells hold ~dozens; ring=1 is enough
    cell = {
        (r.query_id, r.rank): r.event_id
        for r in knn_cell_pruned(pts, qs, k=5, cell_zoom=3, ring=1).collect()
    }
    assert cell == brute


def test_knn_hex_kring_matches_bruteforce(spark):
    """Hex k-ring kNN parity at the registry's (res=1, ring=2): the ring is
    sized so every true neighbor lies inside it for globally scattered
    points (the same guarantee the tile-cell fixed-ring test makes)."""
    from versatiles_rs_spark.joins.knn import knn_hex_kring

    rng = np.random.default_rng(17)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": np.arange(3000),
                "lon": rng.uniform(-170, 170, 3000),
                "lat": rng.uniform(-80, 80, 3000),
            }
        )
    )
    qs = spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": np.arange(8),
                "qlon": rng.uniform(-150, 150, 8),
                "qlat": rng.uniform(-70, 70, 8),
            }
        )
    )
    brute = {(r.query_id, r.rank): r.event_id for r in knn_bruteforce(pts, qs, k=3).collect()}
    hexr = {
        (r.query_id, r.rank): r.event_id
        for r in knn_hex_kring(pts, qs, k=3, res=1, ring=2).collect()
    }
    assert hexr == brute


def test_update_properties_semantics(spark):
    from versatiles_rs_spark.operators.vector import update_properties

    feats = spark.createDataFrame(
        pd.DataFrame({"fid": [1, 2, 3], "key": ["a", "b", "x"]})
    )
    props = spark.createDataFrame(pd.DataFrame({"pkey": ["a", "b"], "attr": [10, 20]}))
    inner = update_properties(feats, props, "key", "pkey", remove_non_matching=True)
    assert inner.count() == 2
    left = update_properties(feats, props, "key", "pkey", remove_non_matching=False)
    rows = {r.fid: r.attr for r in left.collect()}
    assert rows == {1: 10, 2: 20, 3: None}


def test_update_properties_map_merge(spark):
    from versatiles_rs_spark.operators.vector import update_properties

    feats = spark.createDataFrame(
        [(1, "a", {"old": "1", "both": "L"})], "fid int, key string, props map<string,string>"
    )
    props = spark.createDataFrame(
        [("a", {"new": "2", "both": "R"})], "pkey string, props map<string,string>"
    )
    merged = update_properties(feats, props, "key", "pkey", props_col="props").collect()[0]
    assert merged.props == {"old": "1", "both": "R", "new": "2"}  # right wins on clash
    replaced = update_properties(
        feats, props, "key", "pkey", props_col="props", replace_properties=True
    ).collect()[0]
    assert replaced.props == {"new": "2", "both": "R"}


def test_pip_partitioned_shuffle_path_matches(spark):
    """Large-layer path: with broadcast disabled the cell equi-join becomes a
    shuffle join (the 50k-polygon scale shape) — results must be identical
    and the plan must actually shuffle."""
    from versatiles_rs_spark import fixtures
    from versatiles_rs_spark.joins.pip import pip_join_polygons_partitioned
    from versatiles_rs_spark.udfs import derived_lat_expr, derived_lon_expr

    pts = spark.range(0, 2000).select(
        F.col("id").alias("event_id"),
        derived_lon_expr(F.col("id")).alias("lon"),
        derived_lat_expr(F.col("id")).alias("lat"),
    )
    polys = fixtures.polygons_df(spark, 80)
    base = pip_join_polygons_partitioned(pts, polys, cell_zoom=5)
    expected = sorted((r.event_id, r.poly_id) for r in base.collect())

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled = pip_join_polygons_partitioned(pts, polys, cell_zoom=5)
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        got = sorted((r.event_id, r.poly_id) for r in shuffled.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert got == expected and len(got) > 0


def test_knn_adaptive_matches_bruteforce(spark):
    """Ring-widening kNN is EXACT: equals brute force for every query,
    including sparse regions where ring=1 under-fills and polar queries
    where the mercator proof bound matters."""
    from versatiles_rs_spark.joins.knn import knn_bruteforce, knn_cell_adaptive
    from versatiles_rs_spark.udfs import derived_lat_expr, derived_lon_expr

    pts = spark.range(0, 3000).select(
        F.col("id").alias("event_id"),
        derived_lon_expr(F.col("id")).alias("lon"),
        derived_lat_expr(F.col("id")).alias("lat"),
    )
    # queries include a polar and a sparse-corner case
    qrows = [(0, 0.0, 0.0), (1, 100.0, 80.0), (2, -179.0, -84.0), (3, 13.4, 52.5)]
    queries = spark.createDataFrame(qrows, "query_id long, qlon double, qlat double")
    bf = sorted(
        (r.query_id, r.rank, r.event_id)
        for r in knn_bruteforce(pts, queries, k=5).collect()
    )
    ad = sorted(
        (r.query_id, r.rank, r.event_id)
        for r in knn_cell_adaptive(pts, queries, k=5, cell_zoom=5).collect()
    )
    assert ad == bf and len(ad) == 4 * 5


def test_knn_adaptive_max_ring_fallback(spark):
    """Queries still unproven when rings are exhausted get the documented
    final non-proof pass at max_ring (previously dead code behind a
    while/else raise) instead of ValueError."""
    from versatiles_rs_spark.joins.knn import knn_cell_adaptive

    # cell_zoom=5 -> cell width 11.25 deg; query at lon 0.5 sits in cell
    # [0, 11.25). The third-nearest point (lon 21) is inside the ring-1
    # window but 20.5 deg away — beyond the ~11 deg ring-1 proof bound — so
    # the loop can FIND k=3 at ring 1 but never PROVE it with max_ring=1.
    pts = spark.createDataFrame(
        [(0, 1.0, 0.0), (1, 2.0, 0.0), (2, 21.0, 0.0)],
        "event_id long, lon double, lat double",
    )
    queries = spark.createDataFrame([(0, 0.5, 0.0)], "query_id long, qlon double, qlat double")
    out = sorted(
        (r.query_id, r.rank, r.event_id)
        for r in knn_cell_adaptive(pts, queries, k=3, cell_zoom=5, max_ring=1).collect()
    )
    assert out == [(0, 1, 0), (0, 2, 1), (0, 3, 2)]
