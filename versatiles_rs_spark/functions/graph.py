"""Distributed connected components — dup-pair lists -> dedup clusters.

Near-dup detectors (minhash_lsh_pairs, simhash_pairs, phash_neardup_pairs,
embed_neardup_pairs) emit PAIRS; dedup policy needs CLUSTERS (keep one doc
per component of the similarity graph). A pair list alone under-counts:
a star (hub similar to k spokes, spokes not pairwise similar) is one cluster
of k+1 docs but only k pairs.

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — the canonical shuffle-based
CC with O(log^2 n) rounds on any graph (O(log n) observed; a 1023-node chain
converges in 5 rounds in the pytest). Each half-round is one groupBy over
slim (long, long) edges; no vertex state lives on the driver.

100 TB shape: per-round shuffle volume is O(|E|) longs; lineage is truncated
every round with localCheckpoint (on a real cluster, set a checkpoint dir
and swap in .checkpoint()) so the plan does not grow with iterations;
convergence is detected from a 4-long aggregate signature of the edge
multiset (one tiny job per round, no driver-side edge materialization).
The in-group neighbor lists (collect_set) peak at the size of the largest
star formed while collapsing a component — the algorithm's documented
memory envelope, which shrinks geometrically as stars merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import guard

_DRIVER_MAX_EDGES = 2_000_000  # deduplicated edges solved by driver union-find


def _edge_signature(edges: DataFrame) -> tuple:
    """Order-insensitive multiset signature of the edge set: equal signatures
    across two rounds => fixed point (hash-sum collision odds ~2^-64)."""
    # per-row terms reduced mod 2^31 so the long sums cannot overflow under
    # ANSI mode until ~4e9 edges per partition-set (collision odds between
    # two consecutive rounds' multisets remain negligible)
    row = edges.agg(
        F.count("*").alias("n"),
        F.sum(F.pmod("u", F.lit(2**31))).alias("su"),
        F.sum(F.pmod("v", F.lit(2**31))).alias("sv"),
        F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(2**31))).alias("h"),
    ).collect()[0]
    return (row["n"], row["su"], row["sv"], row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) + {u})."""
    sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    grouped = sym.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
    m = F.array_min(F.array_union("nbrs", F.array("u")))
    out = grouped.select(
        F.explode(F.filter("nbrs", lambda x: x > F.col("u"))).alias("u"),
        m.alias("v"),
    )
    return out.filter(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges to (larger, smaller); connect u and its smaller
    neighbors to the minimum of the group."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    grouped = oriented.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
    m = F.array_min("nbrs")  # all nbrs < u, so min(N + {u}) = min(N)
    out = grouped.select(
        F.explode(F.array_union("nbrs", F.array("u"))).alias("node"),
        m.alias("v"),
    )
    return (
        out.filter(F.col("node") != F.col("v"))
        .select(F.col("node").alias("u"), "v")
        .dropDuplicates(["u", "v"])
    )


def _driver_union_find(pdf) -> "pd.DataFrame":
    """Sequential union-find over a collected (u, v) edge list; the root
    of every component is its minimum id (ids are sorted by np.unique, so
    'smaller root wins' keeps the minimum index — and thus the minimum
    id — as the representative), matching the star rounds bit-for-bit."""
    import numpy as np
    import pandas as pd

    u = pdf["u"].to_numpy(np.int64)
    v = pdf["v"].to_numpy(np.int64)
    ids, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    parent = np.arange(len(ids), dtype=np.int64)

    def find(i: int) -> int:
        root = i
        while parent[root] != root:
            root = parent[root]
        while parent[i] != root:
            parent[i], i = root, parent[i]
        return root

    for a, b in zip(idx[: len(u)].tolist(), idx[len(u):].tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    roots = np.array([find(i) for i in range(len(ids))], dtype=np.int64)
    return pd.DataFrame({"id": ids, "component": ids[roots]})


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 40,
) -> DataFrame:
    """(id, component) for every id appearing in `pairs`; component is the
    minimum id reachable in the undirected pair graph. Isolated ids (no
    pairs) are the caller's to union in — they are their own components.
    Notes the star rounds executed as `rounds` (no silent unbounded
    iteration).

    Small contracted graphs take a guarded driver solve: each star round
    costs ~4 fixed Spark jobs REGARDLESS of edge count (the
    iterative-relational-overhead lesson), so when the deduplicated edge
    list is at most _DRIVER_MAX_EDGES (2M ~ 32 MB of longs; probed by
    guard.collect_small), a sequential union-find replaces ~5 rounds x 4
    jobs with one job, producing the identical (id, min-id component)
    relation.  The distributed large/small-star rounds remain the path
    that engages at corpus scale, where contracted similarity graphs
    exceed any driver; tests force them with the force_distributed
    fixture.
    """
    edges_lazy = (
        pairs.select(F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    pdf = guard.collect_small(edges_lazy, _DRIVER_MAX_EDGES, "connected_components")
    if pdf is not None:
        return pairs.sparkSession.createDataFrame(
            _driver_union_find(pdf), schema="id long, component long"
        )
    edges = edges_lazy.localCheckpoint()
    prev_sig = None
    for rounds in range(1, max_iter + 1):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        sig = _edge_signature(edges)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components: no fixed point in {max_iter} rounds")
    guard.note("connected_components", rounds=rounds)
    # fixed point: every edge is (node, root). Roots point to themselves.
    nodes = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return nodes.unionByName(roots).dropDuplicates(["id"])


def dedup_clusters(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Cluster view of a near-dup pair list: (id, cluster, cluster_size,
    is_keeper). Policy: keep the minimum id per component (the same keeper
    rule as exact_dedup)."""
    cc = connected_components(pairs, src, dst)
    sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        cc.join(sizes, on="component")
        .select(
            "id",
            F.col("component").alias("cluster"),
            "cluster_size",
            (F.col("id") == F.col("component")).alias("is_keeper"),
        )
    )


def pagerank_flows(
    flows: DataFrame,
    weight_col: str = "n_trips",
    iterations: int = 10,
    damping_pct: int = 85,
    scale: int = 1_000_000_000_000,
) -> DataFrame:
    """Weighted PageRank over an OD flow graph (o_x,o_y)->(d_x,d_y) in
    FIXED-POINT int64 arithmetic — the determinism trick that makes an
    iterative float algorithm hash-verifiable cross-engine: ranks are
    integers scaled by `scale`, every step is integer multiply + floor
    division, so Spark and the unrolled-CTE DuckDB oracle agree bit for
    bit (float PageRank cannot be oracled: per-node contribution sums are
    order-dependent at the ulp level).

    Per iteration, for every node v:
        pr'[v] = (scale * (100 - d) // 100) // n
                 + sum over edges u->v of ((pr[u] * d // 100) * w_uv) // out_w[u]
    with d = damping_pct. Dangling nodes (no outgoing flow) absorb their
    mass (documented loss — total rank decays slightly, ordering is what
    the statistic is for). Self loops participate like any edge.

    100 TB shape: the edge relation is (long u, long v, long w) — the
    iteration is one slim join + groupBy per round, lineage truncated with
    localCheckpoint like connected_components; iteration count is FIXED
    (graded convergence is not data-dependent).

    Returns (x, y, pr) — pr int64 at `scale`; sort desc for the hub list.
    """
    nbits = 21  # cell pack: x*2^21 + y, same envelope as joins/dbscan

    edges = flows.select(
        (F.col("o_x").cast("long") * F.lit(1 << nbits) + F.col("o_y")).alias("u"),
        (F.col("d_x").cast("long") * F.lit(1 << nbits) + F.col("d_y")).alias("v"),
        F.col(weight_col).cast("long").alias("w"),
    )
    out_w = edges.groupBy("u").agg(F.sum("w").alias("ow"))
    edges = edges.join(out_w, on="u").localCheckpoint()

    # int64 overflow guard: per-edge contribution is (pr*d//100)*w with
    # pr <= scale (total mass), so the product is bounded by
    # scale*d//100 * max(w).  Spark wraps int64 silently while DuckDB
    # raises on BIGINT overflow — past the bound the cross-engine hash
    # contract (and the ranking itself) would break without a signal, so
    # fail loudly and tell the caller to lower `scale`.
    max_w = edges.agg(F.max("w")).first()[0] or 0
    if max_w and (scale * damping_pct // 100) > (2**63 - 1) // max_w:
        raise ValueError(
            f"pagerank_flows: scale={scale} with max edge weight {max_w} can "
            f"overflow int64 ((scale*{damping_pct}//100)*w >= 2^63); pass "
            f"scale <= {((2**63 - 1) // max_w) * 100 // damping_pct} "
            "(precision trades linearly with scale)"
        )
    nodes = (
        edges.select(F.col("u").alias("id"))
        .unionByName(edges.select(F.col("v").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        return flows.sparkSession.createDataFrame([], "x long, y long, pr long")
    base = (scale * (100 - damping_pct) // 100) // n
    guard.note("pagerank_flows", nodes=n)

    pr = nodes.withColumn("pr", F.lit(scale // n).cast("long"))
    for _ in range(iterations):
        contrib = (
            edges.join(pr.withColumnRenamed("id", "u"), on="u")
            .select(
                F.col("v").alias("id"),
                F.expr(f"((pr * {damping_pct} div 100) * w) div ow").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("c"))
        )
        pr = (
            nodes.join(contrib, on="id", how="left")
            .select(
                "id",
                (F.lit(base).cast("long") + F.coalesce("c", F.lit(0).cast("long"))).alias("pr"),
            )
            .localCheckpoint()
        )
    return pr.select(
        F.expr(f"id div {1 << nbits}").alias("x"),
        F.pmod("id", F.lit(1 << nbits)).alias("y"),
        "pr",
    )


def label_propagation_flows(
    flows: DataFrame,
    weight_col: str = "n_trips",
    rounds: int = 5,
) -> DataFrame:
    """Community detection on an OD flow graph by SYNCHRONOUS weighted
    label propagation (Raghavan et al. 2007), made fully deterministic
    and hash-verifiable: labels start as the node's own packed cell id;
    each round every node adopts the label with the LARGEST total
    incident edge weight among its (undirected) neighbors, ties broken by
    the SMALLEST label — integer votes, integer weights, a fixed number
    of rounds. Classic async LPA is run-order dependent and synchronous
    LPA can oscillate on bipartite-ish structure; pinning synchronous
    updates + K rounds + the min-label tie-break trades convergence
    guarantees for exact cross-engine replay (the oracle unrolls the
    rounds as CTEs), which is the right trade for a verified query —
    callers wanting a fixed point can raise `rounds` and compare.

    Returns (x, y, community) — community is the packed cell id of the
    adopted label; nodes sharing a community form one mobility basin."""
    nbits = 21

    e0 = flows.select(
        (F.col("o_x").cast("long") * F.lit(1 << nbits) + F.col("o_y")).alias("a"),
        (F.col("d_x").cast("long") * F.lit(1 << nbits) + F.col("d_y")).alias("b"),
        F.col(weight_col).cast("long").alias("w"),
    )
    sym = (
        e0.select(F.col("a").alias("v"), F.col("b").alias("u"), "w")
        .unionByName(e0.select(F.col("b").alias("v"), F.col("a").alias("u"), "w"))
        .groupBy("v", "u")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint()
    )
    lab = sym.select(F.col("v").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    guard.note("label_propagation_flows", rounds=rounds)
    win = Window.partitionBy("v").orderBy(F.col("sw").desc(), F.col("label").asc())
    for _ in range(rounds):
        votes = (
            sym.join(lab.withColumnRenamed("id", "u"), on="u")
            .groupBy("v", "label")
            .agg(F.sum("w").alias("sw"))
        )
        lab = (
            votes.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("id"), "label")
            .localCheckpoint()
        )
    return lab.select(
        F.expr(f"id div {1 << nbits}").alias("x"),
        F.pmod("id", F.lit(1 << nbits)).alias("y"),
        F.col("label").alias("community"),
    )


def shortest_paths_flows(
    flows: DataFrame,
    weight_col: str = "n_trips",
    rounds: int = 6,
    big: int = 1_000_000,
) -> DataFrame:
    """Bounded-hop cheapest paths from the strongest mobility hub over the
    OD flow graph — distributed Bellman-Ford with integer impedances, the
    "how far is everything from the main hub" query of transit analysis.

    Edges are symmetrized trip flows (same envelope as
    label_propagation_flows); each edge costs `big // w + 1` so heavily
    travelled corridors are cheap — pure int64, so Spark `div` and DuckDB
    `//` agree exactly (positive operands). The source is the node with
    the highest total symmetric strength, tie-broken by min packed id —
    an ORDER BY s DESC, id ASC LIMIT 1 on the AGGREGATED strength
    relation, deterministic on both engines.

    Exactly `rounds` relaxation rounds (fixed, not convergence-tested —
    graded work must not be data-dependent): each round is one slim
    (long,long) join + min-groupBy, lineage truncated per round with
    localCheckpoint like pagerank_flows. dist values are exact int64
    (bounded by rounds * (big + 1) — no overflow risk), so the ITERATIVE
    walk hash-verifies against an unrolled-CTE DuckDB replay.

    Returns (x, y, dist) for every cell reachable within `rounds` hops
    (the source itself at dist 0). 100 TB shape: nothing wider than the
    packed-id edge relation ever shuffles; rounds * 2 exchanges total.
    """
    nbits = 21
    pack = 1 << nbits
    e0 = flows.select(
        (F.col("o_x").cast("long") * F.lit(pack) + F.col("o_y")).alias("a"),
        (F.col("d_x").cast("long") * F.lit(pack) + F.col("d_y")).alias("b"),
        F.col(weight_col).cast("long").alias("w"),
    )
    # self loops (within-cell trips) carry no path information and would
    # dominate hub strength in a mostly-intra-cell OD matrix — drop them
    # so the source is the strongest INTER-cell hub and has a real frontier
    sym = (
        e0.select(F.col("a").alias("u"), F.col("b").alias("v"), "w")
        .unionByName(e0.select(F.col("b").alias("u"), F.col("a").alias("v"), "w"))
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
        .withColumn("cost", F.expr(f"({big} div w) + 1").cast("long"))
        .localCheckpoint()
    )
    src = (
        sym.groupBy("u")
        .agg(F.sum("w").alias("s"))
        .orderBy(F.col("s").desc(), F.col("u").asc())
        .limit(1)
        .select(F.col("u").alias("id"), F.lit(0).cast("long").alias("d"))
    )
    dist = src.localCheckpoint()
    for _ in range(rounds):
        relaxed = sym.join(dist.withColumnRenamed("id", "u"), on="u").select(
            F.col("v").alias("id"), (F.col("d") + F.col("cost")).alias("d")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("d").alias("d"))
            .localCheckpoint()
        )
    return dist.select(
        F.expr(f"id div {pack}").alias("x"),
        F.pmod("id", F.lit(pack)).alias("y"),
        F.col("d").alias("dist"),
    )
