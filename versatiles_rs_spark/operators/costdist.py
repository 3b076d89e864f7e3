"""Distributed cost-distance (accumulated cost surface) over tiled rasters.

The GRASS `r.cost` / ArcGIS "Cost Distance" operator (the reference repo
has no raster analysis): minimum accumulated traversal cost from any
source cell to every raster cell, 8-connected, with the standard
average-cost edge weight made integer-exact:

    move a -> b costs (cost(a) + cost(b)) * 5   cardinal
                      (cost(a) + cost(b)) * 7   diagonal

(GRASS uses avg(cost) * {1, sqrt2} * resolution; scaling by 10 turns the
halves and the sqrt2 into exact int64 — 7/5 is the same 1.4 lattice
approximation the repo's D8 flow-length weights use.)  Cells holding the
`blocked` value are impassable and excluded from the universe.

Distributed shape — the flow_accumulation phase A/B split applied to
Dijkstra (block-wise boundary iteration, the practical form of
Arge-style I/O-efficient grid shortest paths):

  a super-tile's INTERIOR labels are a pure function of (its cost grid,
  its own sources, its border seed estimates), so interior labels never
  ride a shuffle.  The iterated relation is ONLY the border: per round,
  each group re-assembles its cost grid from the cached tile bytes,
  seeds a vectorized bucket-queue (Dial) Dijkstra from its own sources
  plus halo grants (neighbor border estimates + the crossing edge
  weight), and emits its own ring cells' labels — O(G) slim rows per
  group, constant row set, labels monotone nonincreasing.  Fixpoint =
  exact capped-integer-sum probe over the border relation.  Rounds =
  super-tile crossings of the optimal path forest (the resolve_flats /
  TauDEM bound); a final pass emits every cell.

At 100 TB: each round shuffles O(perimeter) longs, not O(cells); the
payload is decoded rounds+2 times from node-local cache (CPU, not
network) — the same trade flow_accumulation documents for its two
decode passes, extended to a wavefront loop.  Pointer doubling cannot
rescue general shortest paths (CLAUDE.md minimax lesson); the wavefront
crosses each super-tile O(1) times for physical cost surfaces.
"""
from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import guard
from ..codecs import decode_image

_INF = 1 << 40  # caps the fixpoint sum probe exactly like hydro._BIG

# border state / halo rows: w packs dist * 256 + cell cost (cost <= 255)
_BORDER = "sx long, sy long, gx long, gy long, w long"
_REL = "sx long, sy long, gx long, gy long, axis int, data binary, w long"


def dijkstra_grid(
    cost: np.ndarray, dist: np.ndarray, seeds_r, seeds_c, lab_scale: int = 1
) -> None:
    """In-place multi-source Dijkstra on one grid.

    cost: int64, -1 = impassable; dist: int64 working labels (_INF =
    unreached), already holding seed values at (seeds_r, seeds_c).
    Vectorized Dial/bucket queue: pop one distinct distance value at a
    time, relax all 8 directions of the whole frontier with numpy
    gather, one combined np.minimum.at scatter per pop; stale entries
    skipped by label re-check.  O(E) vector work across all pops.

    lab_scale packs an allocation id into the label's low bits: labels
    are dist * lab_scale + src_id and edges scale by lab_scale, so the
    min is the LEXICOGRAPHIC (dist, src_id) — nearest source, ties to
    the lowest id — with zero change to the algorithm."""
    H, W = cost.shape
    flat_cost = cost.ravel()
    flat_dist = dist.ravel()
    buckets: dict[int, list[np.ndarray]] = {}
    heap: list[int] = []

    def push(vals: np.ndarray, idx: np.ndarray) -> None:
        for v in np.unique(vals):
            sel = idx[vals == v]
            b = buckets.get(int(v))
            if b is None:
                buckets[int(v)] = [sel]
                heapq.heappush(heap, int(v))
            else:
                b.append(sel)

    seed_idx = (np.asarray(seeds_r) * W + np.asarray(seeds_c)).astype(np.int64)
    if len(seed_idx):
        push(flat_dist[seed_idx], seed_idx)
    deltas = [
        (dr, dc, 7 if dr and dc else 5)
        for dr in (-1, 0, 1)
        for dc in (-1, 0, 1)
        if dr or dc
    ]
    while heap:
        d = heapq.heappop(heap)
        chunks = buckets.pop(d, None)
        if not chunks:
            continue
        idx = np.unique(np.concatenate(chunks))
        idx = idx[flat_dist[idx] == d]  # stale-label skip
        if not len(idx):
            continue
        r, c = idx // W, idx % W
        c0 = flat_cost[idx]
        cand_i, cand_d = [], []
        for dr, dc, scale in deltas:
            nr, nc = r + dr, c + dc
            ok = (nr >= 0) & (nr < H) & (nc >= 0) & (nc < W)
            if not ok.any():
                continue
            nidx = nr[ok] * W + nc[ok]
            passable = flat_cost[nidx] >= 0
            nidx = nidx[passable]
            if not len(nidx):
                continue
            nd = d + (c0[ok][passable] + flat_cost[nidx]) * (scale * lab_scale)
            better = nd < flat_dist[nidx]
            if better.any():
                cand_i.append(nidx[better])
                cand_d.append(nd[better])
        if not cand_i:
            continue
        nidx = np.concatenate(cand_i)
        nd = np.concatenate(cand_d)
        np.minimum.at(flat_dist, nidx, nd)
        won = flat_dist[nidx] == nd
        push(nd[won], nidx[won])


def resolve_super_tiles(
    tiles: DataFrame,
    tile_size: int,
    super_tiles: int | str,
    max_grid_side: int = 2048,
) -> tuple[int, bool]:
    """Resolve super_tiles="auto" -> (S, covered).

    Picks the largest S whose grid side S*tile_size stays within the
    per-group memory guard max_grid_side (2048 px => three int64 G x G
    work arrays ~ 100 MB — the fill/Strahler guarded-solve budget), then
    checks whether ONE aligned S-block covers the whole raster extent
    (one cheap agg over the slim key columns).  covered=True means the
    wavefront never crosses a super-tile boundary: the solver can skip
    the border-Jacobi loop entirely (0 rounds, 1 solve job) — the
    toy-scale fast path the iterative-relational-overhead lesson calls
    for, while huge rasters keep the border iteration unchanged."""
    if super_tiles != "auto":
        return int(super_tiles), False
    s_max = max(1, int(max_grid_side) // int(tile_size))
    ext = tiles.agg(
        F.min("x").alias("x0"), F.max("x").alias("x1"),
        F.min("y").alias("y0"), F.max("y").alias("y1"),
    ).first()
    if ext["x0"] is None:
        return s_max, False
    # smallest covering S wins: per-group work arrays are G x G whether or
    # not tiles occupy them, so a 2048px block over a 512px raster pays
    # 16x the vector work for nothing.  Powers of two first, then s_max
    # itself: when s_max is not a power of two (tile_size=300 -> 6) an
    # extent only an s_max block covers would otherwise miss the fast path
    sizes = [1 << k for k in range(s_max.bit_length()) if 1 << k < s_max] + [s_max]
    for s in sizes:
        if ext["x0"] // s == ext["x1"] // s and ext["y0"] // s == ext["y1"] // s:
            return s, True
    return s_max, False


def cost_distance(
    tiles: DataFrame,
    sources: list[tuple[int, int]],
    tile_size: int = 256,
    super_tiles: int | str = 1,
    payload: str = "bytes",
    band: int = 0,
    blocked: int | None = None,
    max_rounds: int = 64,
    allocate: bool = False,
    emit_cost: bool = False,
    _resolved: tuple[int, bool] | None = None,
) -> DataFrame:
    """(x, y, bytes) cost-raster tile table -> (gx, gy, dist): minimum
    accumulated cost from the nearest source cell (dist -1 where no
    path exists).  Sources must be passable cells.

    allocate=True additionally returns `src` — the 1-based index of the
    nearest source (ArcGIS Cost Allocation / GRASS r.cost nearest-site),
    ties to the LOWEST index, made exact by running the same Dijkstra on
    lexicographically packed labels dist * K + src_id.

    super_tiles="auto" sizes the block to the memory guard and, when one
    aligned block covers the raster, emits in a single solve job with no
    border rounds (resolve_super_tiles).  _resolved lets a caller that
    already resolved (S, covered) skip the duplicate extent job.  Notes
    the border-Jacobi `rounds` run (0 when one block covers the raster)."""
    ts = int(tile_size)
    S, covered = (
        _resolved if _resolved is not None
        else resolve_super_tiles(tiles, ts, super_tiles)
    )
    G = S * ts
    K = 1
    if allocate:
        K = 1 << (len(sources)).bit_length()  # fits src ids 1..n
    inf_l = _INF * K
    src_id = {(int(x), int(y)): i + 1 for i, (x, y) in enumerate(sources)}
    src_set = set(src_id)

    tiles_k = (
        tiles.select(
            (F.col("x").cast("long") / S).cast("long").alias("sx"),
            (F.col("y").cast("long") / S).cast("long").alias("sy"),
            (F.col("x") * ts).cast("long").alias("gx"),
            (F.col("y") * ts).cast("long").alias("gy"),
            F.lit(-1).alias("axis"),
            F.col(payload).alias("data"),
            F.lit(0).cast("long").alias("w"),
        )
        .localCheckpoint()
    )

    def build_grid(pdf: pd.DataFrame, ox: int, oy: int) -> np.ndarray:
        grid = np.full((G, G), -1, dtype=np.int64)
        t = pdf[pdf["axis"] == -1]
        for gx0, gy0, data in zip(t["gx"], t["gy"], t["data"]):
            v = decode_image(bytes(data))[..., band].astype(np.int64)
            r0, c0 = int(gy0) - oy, int(gx0) - ox
            grid[r0 : r0 + v.shape[0], c0 : c0 + v.shape[1]] = v
        if blocked is not None:
            grid[grid == blocked] = -1
        return grid

    def solve(pdf: pd.DataFrame, emit_all: bool = False) -> pd.DataFrame:
        if not (pdf["axis"] == -1).any():  # halo addressed off-universe
            return pd.DataFrame(
                {c: pd.Series(dtype="int64")
                 for c in ("sx", "sy", "gx", "gy", "w")}
            )
        sx, sy = int(pdf["sx"].iloc[0]), int(pdf["sy"].iloc[0])
        ox, oy = sx * G, sy * G
        grid = build_grid(pdf, ox, oy)
        dist = np.full((G, G), inf_l, dtype=np.int64)
        seeds_r: list[int] = []
        seeds_c: list[int] = []
        for x, y in src_set:
            r0, c0 = y - oy, x - ox
            if 0 <= r0 < G and 0 <= c0 < G and grid[r0, c0] >= 0:
                dist[r0, c0] = src_id[(x, y)] if allocate else 0
                seeds_r.append(r0)
                seeds_c.append(c0)
        halo = pdf[pdf["axis"] == 2]
        for hgx, hgy, w in zip(halo["gx"], halo["gy"], halo["w"]):
            hd, hc = int(w) >> 8, int(w) & 0xFF
            if hd >= inf_l:
                continue
            hr, hc_ = int(hgy) - oy, int(hgx) - ox
            for dr in (-1, 0, 1):
                for dc in (-1, 0, 1):
                    if dr == 0 and dc == 0:
                        continue
                    rr2, cc2 = hr + dr, hc_ + dc
                    if not (0 <= rr2 < G and 0 <= cc2 < G):
                        continue
                    if grid[rr2, cc2] < 0:
                        continue
                    scale = 7 if dr and dc else 5
                    cand = hd + (hc + int(grid[rr2, cc2])) * (scale * K)
                    if cand < dist[rr2, cc2]:
                        dist[rr2, cc2] = cand
                        seeds_r.append(rr2)
                        seeds_c.append(cc2)
        if seeds_r:
            dijkstra_grid(cost=grid, dist=dist,
                          seeds_r=np.array(seeds_r), seeds_c=np.array(seeds_c),
                          lab_scale=K)
        if emit_all:
            rr, cc = np.nonzero(grid >= 0)
        else:
            ring = np.zeros((G, G), dtype=bool)
            ring[0, :] = ring[-1, :] = True
            ring[:, 0] = ring[:, -1] = True
            rr, cc = np.nonzero(ring & (grid >= 0))
        d = np.minimum(dist[rr, cc], inf_l)
        return pd.DataFrame(
            {"sx": np.int64(sx), "sy": np.int64(sy),
             "gx": ox + cc, "gy": oy + rr,
             "w": d * 256 + grid[rr, cc]}
        )

    def halo_copies(border: DataFrame) -> DataFrame:
        """Finite border rows re-keyed to each adjacent super-tile."""
        nbrs = F.array_distinct(
            F.array(
                *[
                    F.struct(
                        F.expr(f"(gx + {dx}) div {G}").alias("nsx"),
                        F.expr(f"(gy + {dy}) div {G}").alias("nsy"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                    if not (dx == 0 and dy == 0)
                ]
            )
        )
        return (
            border.filter(F.shiftright(F.col("w"), 8) < F.lit(inf_l))
            .select("gx", "gy", "w", F.explode(nbrs).alias("nb"))
            .filter(
                (F.col("nb.nsx") >= 0)
                & (F.col("nb.nsy") >= 0)
                & (
                    (F.col("nb.nsx") != F.expr(f"gx div {G}"))
                    | (F.col("nb.nsy") != F.expr(f"gy div {G}"))
                )
            )
            .select(
                F.col("nb.nsx").alias("sx"),
                F.col("nb.nsy").alias("sy"),
                "gx", "gy",
                F.lit(2).alias("axis"),
                F.lit(None).cast("binary").alias("data"),
                "w",
            )
            .distinct()
        )

    def run_round(halo: DataFrame | None, emit_all: bool = False) -> DataFrame:
        rel = tiles_k if halo is None else tiles_k.unionByName(halo)
        out_cols = (
            "gx long, gy long, dist long"
            + (", src long" if allocate else "")
            + (", cost long" if emit_cost else "")
        )
        schema = _BORDER if not emit_all else out_cols
        if emit_all:
            def fin(pdf: pd.DataFrame) -> pd.DataFrame:
                out = solve(pdf, emit_all=True)
                lab = out["w"].to_numpy() >> 8
                unreached = lab >= inf_l
                res = {"gx": out["gx"], "gy": out["gy"],
                       "dist": np.where(unreached, np.int64(-1), lab // K)}
                if allocate:
                    res["src"] = np.where(unreached, np.int64(-1), lab % K)
                if emit_cost:
                    res["cost"] = out["w"].to_numpy() & 0xFF
                return pd.DataFrame(res)
            return rel.groupBy("sx", "sy").applyInPandas(fin, schema=schema)
        return (
            rel.groupBy("sx", "sy")
            .applyInPandas(lambda pdf: solve(pdf), schema=schema)
            .localCheckpoint()
        )

    if covered:
        # one aligned super-tile holds the whole raster: interior labels
        # are already exact after a single group solve — no border can
        # improve anything, so skip the Jacobi loop and both probes
        guard.note("cost_distance", rounds=0)
        return run_round(None, emit_all=True)

    border = run_round(None)

    def probe(b: DataFrame) -> int:
        return (
            b.agg(F.sum(F.shiftright(F.col("w"), 8)).alias("s"))
            .collect()[0][0] or 0
        )

    total = probe(border)
    rounds = 0
    while rounds < max_rounds:
        border2 = run_round(halo_copies(border))
        rounds += 1
        new_total = probe(border2)
        border = border2
        if new_total == total:  # labels only decrease -> pointwise fixpoint
            break
        total = new_total
    else:
        raise RuntimeError(
            f"cost_distance: open after {max_rounds} rounds — the optimal "
            "path forest crosses more super-tiles than the bound; raise "
            "super_tiles or max_rounds"
        )
    guard.note("cost_distance", rounds=rounds)
    return run_round(halo_copies(border), emit_all=True)



_PRED = "gx long, gy long, dist long, pgx long, pgy long"
_DRIVER_MAX_ROWS = 2_000_000  # pred rows least_cost_path walks on the driver


def least_cost_path(
    tiles: DataFrame,
    sources: list[tuple[int, int]],
    targets: list[tuple[int, int]],
    tile_size: int = 256,
    super_tiles: int | str = 1,
    payload: str = "bytes",
    band: int = 0,
    blocked: int | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """Least-cost path backtrace — the GRASS r.drain / ArcGIS Cost Path
    operator: for each target cell, every cell on its minimum-cost path
    back to the nearest source, as (tid, gx, gy, dist) rows (dist
    strictly decreases along the path, so ORDER BY dist DESC is the walk
    order; unreachable targets emit nothing; tid = 1-based target index).

    Determinism: the predecessor of a non-source reachable cell p is the
    neighbor q with dist(q) + (cost(q)+cost(p)) * scale == dist(p), ties
    by ascending ESRI code — replayable in SQL from the distance surface.
    Requires all passable costs >= 1 (every move then strictly decreases
    dist, so the predecessor graph is a forest; 0-cost plateaus would
    allow 2-cycles), asserted in the pred pass.

    Distributed shape: cost_distance's border-Jacobi solve (emit_cost
    rides the per-cell cost out so this pass never touches the payload),
    then ONE slim pred pass — groups rebuild (dist, cost) grids with a
    1px halo of ring rows and derive every predecessor with 8
    ascending-code shifted-slice compares, a pure local stencil — then
    the walk.  The pred relation is pruned HARD before anything runs:
    dist strictly decreases along every path, so no path cell sits above
    max(target dist) — only that disc is ever computed or moved.

    The walk itself follows the repo's guarded-driver pattern (fill's
    minimax heap, Strahler's Kahn): when the pruned forest fits
    _DRIVER_MAX_ROWS (guard.collect_small), collect the slim (cell, dist,
    pred) rows and walk O(total path length) on the driver — paths are
    inherently sequential chains.  Beyond the guard (the force_distributed
    test fixture forces it; tested for parity), mark-propagation
    pointer doubling: marked = targets; per round marked |= ptr[marked],
    ptr = ptr∘ptr with frozen rows dropped — after k rounds marked holds
    pred^i(t) for i < 2^k, so log2(longest path) slim self-join rounds,
    fixpoint by marked-count probe.  Doubling is sound because pred is
    FUNCTIONAL (out-degree 1 — the one graph class the CLAUDE.md minimax
    lesson's pointer doubling rescues).  The doubling path notes its
    `rounds`."""
    ts = int(tile_size)
    S, covered = resolve_super_tiles(tiles, ts, super_tiles)
    G = S * ts
    src_set = {(int(x), int(y)) for x, y in sources}
    cd = cost_distance(
        tiles, sources, tile_size=ts, super_tiles=S, payload=payload,
        band=band, blocked=blocked, max_rounds=max_rounds,
        emit_cost=True, _resolved=(S, covered),
    )
    cdk = (
        cd.filter(F.col("dist") >= 0)
        .select(
            F.expr(f"gx div {G}").alias("sx"),
            F.expr(f"gy div {G}").alias("sy"),
            "gx", "gy", "dist", "cost",
        )
        .localCheckpoint()
    )
    nbrs = F.array_distinct(
        F.array(
            *[
                F.struct(
                    F.expr(f"(gx + {dx}) div {G}").alias("nsx"),
                    F.expr(f"(gy + {dy}) div {G}").alias("nsy"),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
                if not (dx == 0 and dy == 0)
            ]
        )
    )
    on_ring = (
        (F.col("gx") % G == 0) | (F.col("gx") % G == G - 1)
        | (F.col("gy") % G == 0) | (F.col("gy") % G == G - 1)
    )
    halo = (
        cdk.filter(on_ring)
        .select("gx", "gy", "dist", "cost", F.explode(nbrs).alias("nb"))
        .filter(
            (F.col("nb.nsx") >= 0) & (F.col("nb.nsy") >= 0)
            & (
                (F.col("nb.nsx") != F.expr(f"gx div {G}"))
                | (F.col("nb.nsy") != F.expr(f"gy div {G}"))
            )
        )
        .select(
            F.col("nb.nsx").alias("sx"), F.col("nb.nsy").alias("sy"),
            "gx", "gy", "dist", "cost",
        )
        .distinct()
    )

    from .focal import _D8_DELTA

    def pred_pass(pdf: pd.DataFrame) -> pd.DataFrame:
        sx, sy = int(pdf["sx"].iloc[0]), int(pdf["sy"].iloc[0])
        ox, oy = sx * G, sy * G
        own = (
            (pdf["gx"] >= ox) & (pdf["gx"] < ox + G)
            & (pdf["gy"] >= oy) & (pdf["gy"] < oy + G)
        ).to_numpy()
        r_ = (pdf["gy"].to_numpy() - oy + 1).astype(np.int64)
        c_ = (pdf["gx"].to_numpy() - ox + 1).astype(np.int64)
        dist = np.full((G + 2, G + 2), _INF, dtype=np.int64)
        cost = np.full((G + 2, G + 2), np.int64(-(1 << 30)), dtype=np.int64)
        dist[r_, c_] = pdf["dist"].to_numpy()
        cost[r_, c_] = pdf["cost"].to_numpy()
        if bool((cost[r_, c_] < 1).any()):
            raise AssertionError(
                "least_cost_path: passable cost < 1 — 0-cost plateaus make "
                "the predecessor graph cyclic; reclassify the raster"
            )
        t_dist = dist[1 : G + 1, 1 : G + 1]
        t_cost = cost[1 : G + 1, 1 : G + 1]
        need = np.zeros((G, G), dtype=bool)
        rr_own = r_[own] - 1
        cc_own = c_[own] - 1
        need[rr_own, cc_own] = True
        for x, y in src_set:
            if ox <= x < ox + G and oy <= y < oy + G:
                need[y - oy, x - ox] = False  # sources have no predecessor
        pgx = np.full((G, G), -1, dtype=np.int64)
        pgy = np.full((G, G), -1, dtype=np.int64)

        def sh(a, dy, dx):
            return a[1 + dy : G + 1 + dy, 1 + dx : G + 1 + dx]

        for code, (dx, dy) in sorted(_D8_DELTA.items()):
            scale = 7 if dx and dy else 5
            hit = (
                need
                & (pgx < 0)
                & (sh(dist, dy, dx) + (sh(cost, dy, dx) + t_cost) * scale
                   == t_dist)
            )
            if hit.any():
                hr, hc = np.nonzero(hit)
                pgx[hr, hc] = ox + hc + dx
                pgy[hr, hc] = oy + hr + dy
        miss = need & (pgx < 0)
        if bool(miss.any()):
            mr, mc = np.nonzero(miss)
            raise AssertionError(
                "least_cost_path: reachable cell without a predecessor at "
                f"({ox + mc[0]}, {oy + mr[0]})"
            )
        fr, fc = np.nonzero(need)
        return pd.DataFrame(
            {"gx": ox + fc, "gy": oy + fr, "dist": t_dist[fr, fc],
             "pgx": pgx[fr, fc], "pgy": pgy[fr, fc]}
        )

    # ONE tiny driver action answers reachability, the prune bound AND the
    # walk's target-distance map (previously three separate jobs: marked
    # checkpoint, max-dist agg, tdist collect — pure per-job overhead at
    # len(targets) rows, the iterative-relational-overhead lesson)
    tgt_rows = [(i + 1, int(x), int(y)) for i, (x, y) in enumerate(targets)]
    spark = tiles.sparkSession
    t_pd = (
        spark.createDataFrame(tgt_rows, "tid long, gx long, gy long")
        .join(cdk.select("gx", "gy", "dist"), ["gx", "gy"], "inner")
        .toPandas()
    )
    marked = (
        spark.createDataFrame(
            t_pd[["tid", "gx", "gy"]].astype("int64"), "tid long, gx long, gy long"
        )
        if len(t_pd)
        else spark.createDataFrame([], "tid long, gx long, gy long")
    )
    # dist strictly decreases along every path, so no path cell can sit
    # above the deepest reachable target — prune the pred relation (and
    # with it every doubling join) to dist <= max(target dist) BEFORE it
    # is computed
    max_d = int(t_pd["dist"].max()) if len(t_pd) else None
    if max_d is None:
        return spark.createDataFrame([], "tid long, gx long, gy long, dist long")
    # covered (single super-tile): halo is empty by construction — skip its
    # explode+distinct shuffle entirely
    pred_in = cdk.filter(F.col("dist") <= max_d)
    if not covered:
        pred_in = pred_in.unionByName(halo.filter(F.col("dist") <= max_d))
    pred_lazy = pred_in.groupBy("sx", "sy").applyInPandas(pred_pass, schema=_PRED)
    pp = guard.collect_small(pred_lazy, _DRIVER_MAX_ROWS, "least_cost_path")
    if pp is not None:
        nxt = {
            (int(x), int(y)): (int(d), int(px), int(py))
            for x, y, d, px, py in zip(
                pp["gx"], pp["gy"], pp["dist"], pp["pgx"], pp["pgy"]
            )
        }
        tdist = {
            (int(x), int(y)): int(d)
            for x, y, d in zip(t_pd["gx"], t_pd["gy"], t_pd["dist"])
        }
        rows = []
        for tid, x, y in tgt_rows:
            if (x, y) not in tdist:
                continue  # unreachable target
            while True:
                hit = nxt.get((x, y))
                if hit is None:  # sources carry no pred row
                    rows.append((tid, x, y, 0))
                    break
                d, px, py = hit
                rows.append((tid, x, y, d))
                x, y = px, py
        return spark.createDataFrame(
            rows, "tid long, gx long, gy long, dist long"
        )
    ptr = pred_lazy.select("gx", "gy", "pgx", "pgy").localCheckpoint()
    n_marked = marked.count()
    rounds = 0
    while rounds < max_rounds:
        step = (
            marked.join(ptr, ["gx", "gy"], "inner")
            .filter(F.col("pgx") >= 0)
            .select("tid", F.col("pgx").alias("gx"), F.col("pgy").alias("gy"))
        )
        marked = marked.unionByName(step).distinct().localCheckpoint()
        rounds += 1
        n2 = marked.count()
        if n2 == n_marked:
            break
        n_marked = n2
        # frozen (chain shorter than the next jump) rows can never fire
        # a step nor serve as a composition hop: drop them, so ptr holds
        # only cells with >= 2^r chain remaining and shrinks to empty
        p2 = ptr.alias("a").join(
            ptr.alias("b"),
            (F.col("a.pgx") == F.col("b.gx")) & (F.col("a.pgy") == F.col("b.gy")),
            "inner",
        ).select(
            F.col("a.gx").alias("gx"), F.col("a.gy").alias("gy"),
            F.col("b.pgx").alias("pgx"), F.col("b.pgy").alias("pgy"),
        )
        ptr = p2.localCheckpoint()
    else:
        raise RuntimeError(
            f"least_cost_path: walk open after {max_rounds} doubling rounds"
        )
    guard.note("least_cost_path", rounds=rounds)
    return marked.join(cdk.select("gx", "gy", "dist"), ["gx", "gy"]).select(
        "tid", "gx", "gy", "dist"
    )
