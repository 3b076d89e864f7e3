"""Physical-plan quality gates (SURVEY.md §4): these tests pin the *plan
shape*, not just the results — pushdown reaches the scan, small dims
broadcast, hot paths stay JVM-side, and shuffles don't multiply.

A regression here means a query still returns correct rows but would fall
over at 100 TB, so it fails CI like any correctness bug.
"""

import pytest
from pyspark.sql import functions as F

from versatiles_rs_spark import queries as Q


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(spark, df, execute: bool = False) -> str:
    """Untruncated formatted explain (the toString tree truncates long
    PushedFilters lists and hides codegen ids under AQE)."""
    if execute:
        df.collect()  # materialize THIS plan so AQE finalizes it (codegen ids)
    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_bbox_filter_pushed_to_scan(spark, sf_dir):
    """The geo-bbox filter compiles to column ranges; the event_id-derived
    lon/lat are expressions over a scanned column, so the scan must carry a
    pushed filter on it -- and the scan must NOT read unused columns."""
    df = Q.REGISTRY["bbox_filter"].fn(spark, sf_dir)
    plan = plan_of(df)
    scan = plan[plan.index("FileScan") :].split("\n")[0]
    # column pruning: props/value/ts are not needed by the query
    assert "props" not in scan and "value" not in scan
    assert "ReadSchema" in scan


def test_zoom_filter_pushdown_on_tile_table(spark, tmp_path):
    """On a materialized tile table, z/x/y predicates must reach parquet as
    PushedFilters (partition pruning analog of the reference's bbox-pyramid
    intersection, filter.rs:45-62)."""
    from versatiles_rs_spark import fixtures

    path = str(tmp_path / "tiles")
    fixtures.images_with_tiles_df(spark, 200, size=16, zoom=4, partitions=2).write.parquet(path)
    t = spark.read.parquet(path)
    q = t.filter((F.col("z") == 4) & (F.col("x").between(3, 6)) & (F.col("y") >= 2)).select(
        "z", "x", "y"
    )
    plan = formatted_plan(spark, q)
    assert "PushedFilters" in plan
    pushed = plan[plan.index("PushedFilters") :].split("]")[0]
    for expected in ("EqualTo(z,4)", "GreaterThanOrEqual(x,3)", "LessThanOrEqual(x,6)", "GreaterThanOrEqual(y,2)"):
        assert expected in pushed, f"missing {expected} in {pushed}"
    read_schema = plan[plan.index("ReadSchema") :].split("\n")[0]
    assert "bytes" not in read_schema and "caption" not in read_schema  # column pruning


def test_property_join_broadcasts_small_dim(spark, sf_dir):
    """vector_update_properties ≙ broadcast hash join — never a sort-merge
    shuffle of the big fact side against a small dim."""
    df = Q.REGISTRY["property_join_inner"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pip_rect_join_is_broadcast_range_join(spark, sf_dir):
    df = Q.REGISTRY["pip_join_rect"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_tile_assign_stays_jvm_side(spark, sf_dir):
    """The tile-math hot path must be pure column expressions: no Python
    evaluation (BatchEvalPython / ArrowEvalPython / mapInPandas) in the plan,
    and whole-stage codegen active."""
    df = Q.REGISTRY["tile_assign"].fn(spark, sf_dir)
    plan = formatted_plan(spark, df, execute=True)
    assert "EvalPython" not in plan and "PythonUDF" not in plan
    assert "codegen id" in plan  # whole-stage codegen active


@pytest.mark.parametrize("name", ["tpch_q1", "tpch_q5", "tpch_q10", "tile_stats", "tilejson_meta", "quality_score"])
def test_relational_queries_have_no_python(spark, sf_dir, name):
    plan = plan_of(Q.REGISTRY[name].fn(spark, sf_dir))
    assert "EvalPython" not in plan, f"{name} fell off the JVM path"


@pytest.mark.parametrize(
    "name", ["morans_i", "lisa_clusters", "bivariate_moran", "kde_heatmap",
             "cluster_markers"]
)
def test_spatial_stats_stay_jvm_and_slim(spark, sf_dir, name):
    """The spatial-statistics family: zero Python nodes, and the explode
    (neighbor/kernel Generate) sits ABOVE an aggregation — the fan-out runs
    on the aggregated cell relation, never on raw points (the 100 TB
    contract of functions/moran.py / kde.py / clusters.py)."""
    plan = plan_of(Q.REGISTRY[name].fn(spark, sf_dir))
    assert "EvalPython" not in plan and "PythonUDF" not in plan, name
    if "Generate" in plan:  # cluster_markers has no explode at all
        gen = plan.index("Generate")
        assert "HashAggregate" in plan[gen:], (
            f"{name}: Generate is not fed by an aggregation"
        )


def test_pyramid_rollup_single_base_shuffle(spark, sf_dir):
    """The multi-level roll-up reuses one aggregated z8 base; it must not
    re-shuffle raw events once per level (exchange count stays bounded)."""
    df = Q.REGISTRY["pyramid_rollup"].fn(spark, sf_dir)
    plan = plan_of(df)
    # 1 base agg exchange + 1 per level-regroup (3 levels) = 4; a naive
    # per-level re-aggregation of raw events would add full-width exchanges
    # with the raw scan under each — assert the scan appears once per branch
    # but partial aggregation (map-side combine) is present
    assert plan.count("HashAggregate") >= 6  # partial+final per level
    assert "Exchange" in plan


def test_knn_window_partitioned_by_query(spark, sf_dir):
    """Top-k rank must partition by query id — a global sort would serialize
    at scale."""
    df = Q.REGISTRY["knn_events"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert "RunningWindowFunction" in plan or "Window" in plan
    # no global Sort outside the window's partition-local sort
    assert "Exchange rangepartitioning" not in plan


def test_flagship_ships_no_payload_through_join(spark):
    """The flagship PIP join must move `nbytes` (long), never the binary
    payload — dropping bytes before the shuffle is the 200x-IO design rule."""
    from versatiles_rs_spark.pipeline import flagship

    df = flagship(spark, n_images=100, n_polygons=10)
    plan = plan_of(df)
    # the payload column must never be a shuffle attribute: every Exchange
    # line's key list must be free of the binary `bytes#N` attribute
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "bytes#" not in line, f"payload in shuffle: {line.strip()[:140]}"
    assert "nbytes" in plan  # the slim projection is what flows downstream


def test_minhash_signature_computed_once(spark, sf_dir):
    """The LSH pipeline materializes signatures (InMemoryTableScan) instead of
    re-running the Arrow UDF on both sides of the self-join."""
    from versatiles_rs_spark.functions.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = minhash_lsh_pairs(docs)
    plan = plan_of(df)
    # all four references to signatures (band-left, band-right, est-a, est-b)
    # must read the cached table, not re-run the Arrow UDF
    assert plan.count("InMemoryTableScan") >= 4


def test_dedup_guard_plan_shapes(spark, sf_dir):
    """r2 guard rules: the hot-bucket cap must be a BROADCAST anti-join (big
    side never re-shuffles for the filter) and pair re-expansion must
    broadcast the rep-pair set — no extra full-table sort-merge joins."""
    from versatiles_rs_spark.functions.dedup import minhash_lsh_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = plan_of(minhash_lsh_pairs(docs))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    # document text must not appear as a shuffle attribute anywhere
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, f"text in shuffle: {line.strip()[:140]}"


def test_s2_udf_evaluated_once(spark, sf_dir):
    """s2_cells: one Arrow UDF eval (ArrowEvalPython), aggregation JVM-side."""
    from versatiles_rs_spark.queries import REGISTRY

    df = REGISTRY["s2_cells"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("ArrowEvalPython") == 1
    assert "HashAggregate" in plan


def test_hex7_udf_evaluated_once(spark, sf_dir):
    """hex_cells: one Arrow UDF eval (ArrowEvalPython), aggregation JVM-side
    — same single-eval rule as s2_cells."""
    from versatiles_rs_spark.queries import REGISTRY

    df = REGISTRY["hex_cells"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("ArrowEvalPython") == 1
    assert "HashAggregate" in plan


def test_ann_ivf_single_list_shuffle(spark, sf_dir):
    """ann_ivf: exactly two Arrow evals (vector assignment + query probes)
    and no more hash exchanges than the join (x2 sides) + the re-rank
    window; the candidate join must key on the coarse-quantizer list id."""
    from versatiles_rs_spark.queries import REGISTRY

    df = REGISTRY["ann_ivf"].fn(spark, sf_dir)
    plan = plan_of(df)
    assert plan.count("ArrowEvalPython") == 2
    exchanges = [
        line for line in plan.splitlines() if "Exchange hashpartitioning" in line
    ]
    assert len(exchanges) <= 3, exchanges
    # the candidate join must key on the coarse-quantizer list id — via a
    # hash shuffle at scale, or a broadcast under AQE at toy SF (both fine)
    join_lines = [
        line for line in plan.splitlines() if "Join" in line and "ivf_list" in line
    ]
    assert join_lines, plan


def test_flagship_payload_never_crosses_arrow(spark):
    """r3 rule: the flagship's encoded payload must not appear ANYWHERE in
    the plan (emit_bytes=False projects nbytes inside the Python stage) —
    stronger than the r1 no-payload-in-shuffle gate."""
    import re

    from versatiles_rs_spark.pipeline import flagship

    df = flagship(spark, n_images=100, n_polygons=10)
    plan = plan_of(df)
    # (?<![a-z_]) spares nbytes/tile_bytes — only the bare payload attribute
    assert not re.search(r"(?<![a-z_])bytes#", plan), "payload column in plan"
    assert "nbytes" in plan


def test_flagship_scan_python_keeps_blobs_out_of_jvm(spark, tmp_path):
    """Deployment-shaped scan: the JVM plan must carry only file indices
    into the Python stage and slim columns out — the stored `bytes` column
    is read by pyarrow INSIDE the task and must not appear in any plan
    node. No round-robin exchange hands out the files: AQE's final plan has
    one Exchange, the aggregate's hash exchange."""
    import re

    from versatiles_rs_spark import fixtures
    from versatiles_rs_spark.pipeline import flagship_scan

    path = str(tmp_path / "images")
    fixtures.images_df(spark, 200, partitions=4).write.parquet(path)
    df = flagship_scan(spark, path, n_polygons=10)
    df.collect()
    plan = plan_of(df)
    assert not re.search(r"(?<![a-z_])bytes#", plan), "payload column in plan"
    assert "nbytes" in plan
    assert "RoundRobinPartitioning" not in plan, plan
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    exchanges = [ln for ln in final.splitlines() if re.search(r"\bExchange\b", ln)]
    assert len(exchanges) == 1 and "Exchange hashpartitioning(poly_id" in exchanges[0], final
    assert "scan(id#" in plan  # the Python stage consumes file indices only


def test_flagship_scan_action_runs_two_jobs(spark, tmp_path):
    """One flagship_scan action is the aggregate's map stage and its result
    stage: two Spark jobs, none spent handing out the part-files."""
    from versatiles_rs_spark import fixtures
    from versatiles_rs_spark.pipeline import flagship_scan

    path = str(tmp_path / "images")
    fixtures.images_df(spark, 200, partitions=4).write.parquet(path)
    df = flagship_scan(spark, path, n_polygons=10)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df.collect()
    # new ids, not a length difference: the status store evicts old jobs
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 2


@pytest.mark.parametrize("path", ["synth", "python"])
def test_flagship_plan_is_one_python_node_then_aggregate(spark, tmp_path, path):
    """The flagship's PIP test runs inside its fused scan+encode task
    (joins.pip.polygon_probe), so every flagship plan is one Python node,
    no join, and one hash exchange: the aggregate's. Read from AQE's final
    plan, after the action ran."""
    import re

    from versatiles_rs_spark import fixtures
    from versatiles_rs_spark.pipeline import flagship, flagship_scan

    if path == "synth":
        df = flagship(spark, n_images=200, n_polygons=10)
    else:
        images = str(tmp_path / "images")
        fixtures.images_df(spark, 200, partitions=4).write.parquet(images)
        df = flagship_scan(spark, images, n_polygons=10)
    df.collect()
    plan = plan_of(df)
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    python_nodes = re.findall(
        r"\b(?:MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|BatchEvalPython"
        r"|FlatMapGroupsIn\w+|FlatMapCoGroupsIn\w+|AggregateInPandas|WindowInPandas)\b",
        final,
    )
    assert len(python_nodes) == 1, final
    assert "Join" not in final, final
    assert final.count("Exchange hashpartitioning") == 1, final
    assert "poly_id" in final.split("Exchange hashpartitioning")[1].split("\n")[0]


def test_python_scan_file_list_runs_no_python_task(spark, tmp_path):
    """The Python-side scan hands out its file list as a Range of indices:
    no RDD scan, whose tasks would start Python workers only to pass the
    path strings on, so the scan's one Python node is the reader itself."""
    from versatiles_rs_spark import fixtures
    from versatiles_rs_spark.sources.arrow_scan import read_parquet_pythonside

    path = str(tmp_path / "images")
    fixtures.images_df(spark, 40, partitions=4).write.parquet(path)
    df = read_parquet_pythonside(
        spark, path, schema="image_id string", kernel=lambda pdf: pdf[["image_id"]]
    )
    plan = plan_of(df)
    assert "Range (0, 4, step=1, splits=4)" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_image_curation_family_pure_jvm_no_text_in_shuffle(spark, sf_dir):
    """caption_dedup / clip_filter / laion_curation: zero Python nodes, and
    neither raw caption text nor embedding arrays appear as attributes of
    any Exchange (shuffles move only ids, flags, and the 32-char cap_key)."""
    import re

    for name in ["caption_dedup", "clip_filter", "laion_curation"]:
        plan = plan_of(Q.REGISTRY[name].fn(spark, sf_dir))
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, name
        for line in plan.splitlines():
            if "Exchange hashpartitioning" in line:
                assert not re.search(r"(?<![a-z_])(text|caption)#", line), (name, line[:140])


def test_token_arrays_materialized_behind_generate_barrier(spark, sf_dir):
    """r3 lambda-CSE rule: token/code arrays referenced inside HOF lambdas
    must come from a single_eval-materialized attribute, never re-inline
    the producing split/fold expression per lambda index (opt log #9)."""
    import re

    plan = plan_of(Q.REGISTRY["decontaminate"].fn(spark, sf_dir))
    assert "_tk#" in plan  # the barrier-materialized token attribute
    plan2 = plan_of(Q.REGISTRY["duplicate_spans"].fn(spark, sf_dir))
    assert re.search(r"slice\(codes#\d+", plan2), "window fold lost the codes barrier"
    assert "slice(transform(filter(split" not in plan2, "fold re-expands the split"


def test_d8_basins_slim_iteration(spark):
    """The flow-graph build (pixels -> successors, the plan each doubling
    round iterates on): tile payload never enters an Exchange — only
    border strips shuffle, and the (id, succ) relation the O(log L)
    doubling joins move is pure longs.  d8_basins itself checkpoints
    eagerly, so the gate pins the UN-checkpointed upstream plan."""
    from versatiles_rs_spark import fixtures
    from versatiles_rs_spark.operators.focal import d8_successors, focal_terrain_pixels

    tiles = fixtures.dem_raster_df(spark, zoom=1, partitions=4)
    succ = d8_successors(focal_terrain_pixels(tiles))
    plan = plan_of(succ)
    assert "CartesianProduct" not in plan
    assert [f.name for f in succ.schema.fields] == ["id", "succ"]
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "bytes#" not in line, f"payload in shuffle: {line.strip()[:140]}"


@pytest.mark.parametrize(
    "name", ["gearys_c", "idw_fill", "ripley_k", "colocation",
             "traj_similarity", "st_dbscan_events", "variogram"]
)
def test_r4_stats_no_python_no_cartesian(spark, sf_dir, name):
    """The round-4 analytics family: zero Python nodes and — for the
    pair-generating members — no cartesian product: every candidate join
    is an equi-join on cell/bucket keys (the density-bounded 100 TB
    contract of ripley.py / colocation.py / trajectory.py /
    st_dbscan.py)."""
    plan = plan_of(Q.REGISTRY[name].fn(spark, sf_dir))
    assert "EvalPython" not in plan and "PythonUDF" not in plan, name
    assert "CartesianProduct" not in plan, f"{name} degenerated to n^2"


def test_relation_polygonize_pure_jvm(spark):
    """zone_edges_from_relation: zero Python nodes, no cartesian product
    — four rook equi-joins on slim cell keys is the whole plan."""
    import pandas as pd
    import numpy as np

    from versatiles_rs_spark.operators.polygonize import zone_edges_from_relation

    pdf = pd.DataFrame(
        {"gx": np.arange(100) % 10, "gy": np.arange(100) // 10,
         "zone": np.arange(100) % 3}
    )
    plan = plan_of(zone_edges_from_relation(spark.createDataFrame(pdf)))
    assert "EvalPython" not in plan and "PythonUDF" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan


def test_viewshed_single_arrow_pipeline(spark):
    """viewshed: exactly one mapInPandas (decode + window clip) feeding
    exactly one applyInPandas (per-observer solve); the shuffle between
    them moves clipped window bytes only — the tile payload column never
    enters an Exchange."""
    from versatiles_rs_spark import fixtures
    from versatiles_rs_spark.operators.viewshed import viewshed

    # checkpoint the fixture so its own generator MapInPandas is not in
    # the pinned plan
    tiles = fixtures.dem_raster_df(spark, zoom=1, partitions=4).localCheckpoint()
    out = viewshed(tiles, [(1, 256, 256)], radius=32, height=2)
    plan = plan_of(out)
    assert plan.count("MapInPandas") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "bytes#" not in line, f"payload in shuffle: {line.strip()[:140]}"


def test_cost_distance_border_rounds_slim(spark):
    """cost_distance's iterated relation: the border rows that ride every
    round are pure longs (sx, sy, gx, gy, w) — the payload column appears
    in no Exchange of the final plan (rounds are checkpointed, so the
    gate pins the emit-all pass, which re-reads cached tile bytes
    group-locally)."""
    from versatiles_rs_spark import fixtures
    from versatiles_rs_spark.operators.costdist import cost_distance

    tiles = fixtures.cost_wall_raster_df(spark, partitions=4)
    out = cost_distance(
        tiles, [(50, 100)], tile_size=256, super_tiles=2, blocked=255
    )
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "data#" not in line, f"payload in shuffle: {line.strip()[:140]}"


@pytest.mark.parametrize(
    "name", ["staypoints", "radius_gyration", "jump_lengths",
             "location_regularity", "visitation_gini"]
)
def test_mobility_metrics_jvm_slim_partitioned(spark, sf_dir, name):
    """The mobility metric family (functions/sessions.py): zero Python
    nodes (cell lattice + window + groupBy is all JVM), no cartesian
    product, and every window is entity-partitioned — a SinglePartition
    window would funnel 10^12 fixes through one task."""
    plan = plan_of(Q.REGISTRY[name].fn(spark, sf_dir))
    assert "EvalPython" not in plan and "PythonUDF" not in plan, name
    assert "CartesianProduct" not in plan, name
    assert "SinglePartition" not in plan, f"{name}: unpartitioned window"


def test_map_match_pure_jvm_slim_dp(spark, sf_dir):
    """map_match: the unrolled Viterbi must stay a single pure-JVM DAG —
    zero Python nodes, no cartesian product (candidates meet on packed
    cell keys), no SinglePartition window (the DP is trajectory-keyed
    groupBys) — and the candidate relation is cached (InMemoryRelation)
    so the T DP references plus the decode join scan it once."""
    plan = plan_of(Q.REGISTRY["map_match"].fn(spark, sf_dir))
    assert "EvalPython" not in plan and "PythonUDF" not in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert "InMemoryTableScan" in plan, "candidate relation not cached"


def test_landscape_metrics_pure_jvm(spark, sf_dir):
    """landscape_metrics: zero Python nodes — patches, edges, and ratios
    all derive from the contracted segment relation in JVM expressions
    (the only non-relational step is region_group's guarded driver
    union-find, which is not part of this plan).  The 64x64 universe
    lattice crossJoin is a constant-size literal grid, so no cartesian
    assert here (same shape as region_group/sieve_regions)."""
    plan = plan_of(Q.REGISTRY["landscape_metrics"].fn(spark, sf_dir))
    assert "EvalPython" not in plan and "PythonUDF" not in plan
    assert "SinglePartition" not in plan


def test_tpch_q5_broadcasts_dims_filter_pushed(spark, sf_dir):
    """Q5: every dimension side (region/nation/supplier) joins as a
    broadcast; the region name filter reaches its scan as a pushed
    filter — the fact tables are the only shuffle participants."""
    df = Q.REGISTRY["tpch_q5"].fn(spark, sf_dir)
    plan = formatted_plan(spark, df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "PushedFilters" in plan
    assert "EvalPython" not in plan
