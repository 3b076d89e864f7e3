"""phash Hamming near-dup, connected components, as-of join.

Unit oracles: brute-force popcount pairs (numpy), union-find (pure python),
pandas.merge_asof — all independent of the Spark implementations.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from versatiles_rs_spark import guard
from versatiles_rs_spark.functions.graph import connected_components, dedup_clusters
from versatiles_rs_spark.functions.phash import _block_bounds, phash_neardup_pairs
from versatiles_rs_spark.joins.asof import asof_join


# ---------------------------------------------------------------------------
# phash near-dup
# ---------------------------------------------------------------------------


def _rng_phashes(n, seed, planted_flips):
    """n base hashes + one planted near-dup per base at `planted_flips` bits."""
    rng = np.random.RandomState(seed)
    base = rng.randint(0, 1 << 62, size=n).astype(np.int64)
    flips = np.zeros(n, dtype=np.int64)
    for i in range(n):
        bits = rng.choice(62, size=planted_flips, replace=False)
        flips[i] = np.bitwise_or.reduce((np.int64(1) << bits).astype(np.int64))
    near = base ^ flips
    ids = np.arange(2 * n)
    return ids, np.concatenate([base, near])


def _brute_pairs(ids, hashes, max_hamming):
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin(int(hashes[i]) ^ int(hashes[j])).count("1")
            if d <= max_hamming:
                a, b = sorted((int(ids[i]), int(ids[j])))
                out.add((a, b, d))
    return out


def test_block_bounds_cover_all_bits():
    for nblocks in range(1, 12):
        b = _block_bounds(nblocks)
        assert b[0] == 0 and b[-1] == 64
        assert all(b[i] < b[i + 1] for i in range(nblocks))


@pytest.mark.parametrize("max_hamming", [2, 4, 8])
def test_phash_pairs_match_bruteforce(spark, max_hamming):
    ids, hashes = _rng_phashes(40, seed=max_hamming, planted_flips=max_hamming)
    df = spark.createDataFrame(
        pd.DataFrame({"image_id": ids, "phash": hashes})
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in phash_neardup_pairs(df, max_hamming=max_hamming, bucket_cap=0).collect()
    }
    assert got == _brute_pairs(ids, hashes, max_hamming)


def test_phash_exact_dup_expansion(spark):
    # 3 byte-identical fingerprints + 1 at distance 1: pre-collapse must
    # re-expand to all 6 pairs (3 at hamming 0, 3 at hamming 1)
    df = spark.createDataFrame(
        pd.DataFrame({"image_id": [1, 2, 3, 4], "phash": [100, 100, 100, 101]})
    )
    rows = {(r.id_a, r.id_b): r.hamming for r in phash_neardup_pairs(df, max_hamming=2).collect()}
    assert rows == {(1, 2): 0, (1, 3): 0, (2, 3): 0, (1, 4): 1, (2, 4): 1, (3, 4): 1}


def test_phash_plan_is_pure_jvm(spark):
    df = spark.range(100).select(
        F.col("id").alias("image_id"), (F.col("id") * 7919).alias("phash")
    )
    plan = phash_neardup_pairs(df, max_hamming=4)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_caption_aware_dedup_semantics(spark):
    # cluster {1,2,3} visually near-identical (hamming<=1); 1 and 2 share a
    # caption (modulo case/punct) -> 2 dropped; 3 has a different caption ->
    # kept. 4 is visually distinct, always kept even with 1's caption.
    from versatiles_rs_spark.functions.phash import caption_aware_dedup

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "image_id": [1, 2, 3, 4],
                "phash": [0b1100, 0b1101, 0b0100, 1 << 40],
                "caption": ["A cat!", "a  cat", "a dog", "A cat!"],
            }
        )
    )
    rows = {
        r.image_id: (r.img_cluster, r.n_same_caption, r.n_caption_variants, r.is_keeper)
        for r in caption_aware_dedup(df, max_hamming=1).collect()
    }
    assert rows == {
        1: (1, 2, 2, 1),
        2: (1, 2, 2, 0),  # visual dup + same normalized caption: dropped
        3: (1, 1, 2, 1),  # visual dup but caption-diverse: kept
        4: (4, 1, 1, 1),  # visually distinct: own cluster
    }


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical min-id component per node
    comp = {}
    for x in list(parent):
        r = find(x)
        comp.setdefault(r, []).append(x)
    out = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_cc_matches_union_find_random(spark, seed, force_distributed):
    rng = np.random.RandomState(seed)
    n_nodes, n_edges = 200, 150
    edges = [
        (int(a), int(b))
        for a, b in zip(rng.randint(0, n_nodes, n_edges), rng.randint(0, n_nodes, n_edges))
        if a != b
    ]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["id_a", "id_b"]))
    got = {r.id: r.component for r in connected_components(df).collect()}
    assert got == _union_find(edges)
    # distributed star rounds must agree with the guarded driver solve
    with force_distributed() as refused:
        star = {r.id: r.component for r in connected_components(df).collect()}
    assert refused == ["connected_components"]
    assert star == got


def test_cc_chain_converges_logarithmically(spark, force_distributed):
    # 1023-node path graph: naive min-propagation needs ~1022 rounds;
    # large-star/small-star must finish in O(log n)
    edges = [(i, i + 1) for i in range(1022)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["id_a", "id_b"]))
    with guard.recording() as rec, force_distributed():
        got = connected_components(df)
    assert got.filter(F.col("component") != 0).count() == 0
    assert got.count() == 1023
    assert 0 < rec["connected_components"]["rounds"] <= 12, rec
    # the guard's fast path: same chain through the driver union-find
    with guard.recording() as rec:
        drv = connected_components(df)
    assert rec["connected_components"] == {"path": "driver", "rows": 1022}
    assert drv.filter(F.col("component") != 0).count() == 0
    assert drv.count() == 1023


def test_dedup_clusters_star(spark):
    # star: hub 10 paired with 3 spokes; spokes share no pair — one cluster
    df = spark.createDataFrame(
        pd.DataFrame({"id_a": [10, 10, 10, 50], "id_b": [11, 12, 13, 51]})
    )
    rows = {r.id: (r.cluster, r.cluster_size, r.is_keeper) for r in dedup_clusters(df).collect()}
    assert rows == {
        10: (10, 4, True), 11: (10, 4, False), 12: (10, 4, False), 13: (10, 4, False),
        50: (50, 2, True), 51: (50, 2, False),
    }


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------


def _asof_frames():
    rng = np.random.RandomState(7)
    n_l, n_r = 300, 200
    left = pd.DataFrame(
        {
            "user_id": rng.randint(0, 10, n_l),
            "ts": rng.randint(0, 1000, n_l).astype("datetime64[s]"),
            "lid": np.arange(n_l),
        }
    )
    right = pd.DataFrame(
        {
            "user_id": rng.randint(0, 10, n_r),
            "ts": rng.randint(0, 1000, n_r).astype("datetime64[s]"),
            "value": rng.rand(n_r).round(6),
        }
    ).drop_duplicates(["user_id", "ts"])  # unique per (key, ts) by contract
    return left, right


def test_asof_matches_pandas_merge_asof(spark):
    left, right = _asof_frames()
    got = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            ts_col="ts",
            by=("user_id",),
            right_cols=("value",),
        )
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    exp = pd.merge_asof(
        left.sort_values("ts"),
        right.sort_values("ts"),
        on="ts",
        by="user_id",
        direction="backward",
        allow_exact_matches=True,
    ).sort_values("lid").reset_index(drop=True)
    pd.testing.assert_series_equal(
        got["asof_value"], exp["value"], check_names=False
    )


def test_asof_exact_tie_and_no_match(spark):
    left = pd.DataFrame({"user_id": [1, 1, 2], "ts": [5, 3, 9], "lid": [0, 1, 2]})
    right = pd.DataFrame({"user_id": [1, 1], "ts": [5, 1], "value": [50.0, 10.0]})
    got = {
        r.lid: (r.asof_ts, r.asof_value)
        for r in asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            ts_col="ts",
            by=("user_id",),
            right_cols=("value",),
        ).collect()
    }
    assert got[0] == (5, 50.0)  # exact tie matches (>= semantics)
    assert got[1] == (1, 10.0)
    assert got[2] == (None, None)  # no right rows for user 2


def test_asof_null_right_value_does_not_tear(spark):
    # right row at ts=8 has a NULL value; the match must surface THAT null,
    # not reach back to ts=2's value column-wise
    left = pd.DataFrame({"user_id": [1], "ts": [9], "lid": [0]})
    right = spark.createDataFrame(
        pd.DataFrame({"user_id": [1, 1], "ts": [2, 8], "value": [4.0, np.nan]})
    ).withColumn("value", F.when(F.col("ts") == 2, F.col("value")))
    row = asof_join(
        spark.createDataFrame(left), right, ts_col="ts", by=("user_id",),
        right_cols=("value",),
    ).collect()[0]
    assert row.asof_ts == 8 and row.asof_value is None


def test_asof_plan_has_no_join(spark):
    left, right = _asof_frames()
    plan = (
        asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            ts_col="ts",
            by=("user_id",),
            right_cols=("value",),
        )
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the whole point: a window fill, not a range join
    assert "Join" not in plan
    assert plan.count("Window") == 1
