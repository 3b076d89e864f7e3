"""Distributed D8 flow accumulation over tiled DEM rasters.

Flow accumulation (upstream contributing cells per pixel — the
GDAL/TauDEM/ArcGIS "Flow Accumulation" operator; the reference repo has
no hydrology at all) is the hard distributed raster primitive: every
pixel's value depends on an arbitrarily long upstream path, so neither a
per-tile kernel nor a bounded halo can compute it.  This module uses the
two-phase shape of Barnes 2017 ("Parallel non-divergent flow
accumulation for trillion cell digital elevation models on desktops or
clusters", Env. Modelling & Software) re-expressed as Spark relations:

  phase A (heavy, payload shuffle #1): tiles group into S x S super-tiles
    with a 1px elevation halo (slim strips, ~1 KB/tile).  Each task
    decodes its tiles ONCE, derives D8 locally (operators/focal.py
    terrain_fields — same kernel, same tie-break), and solves LOCAL
    accumulation exactly with level-synchronous sweeps over descending
    elevation: D8 only follows strictly positive drops, so elevation is a
    topological order and uint8 DEMs bound the sweep at <= 256 vectorized
    np.add.at rounds.  The task emits ONLY slim coarse rows: per-exit
    inflow partials w(c) (flow leaving the super-tile into border pixel c
    of a neighbor) and the border transfer map entry -> exit-target
    (pointer-doubled in numpy: 8 gather rounds cover any <=256-step path).
  coarse solve (slim, driver-orchestrated Jacobi): total external inflow
    I(c) = w(c) + sum of I over coarse predecessors.  Elevation strictly
    decreases across every coarse edge, so the border graph is a DAG and
    the relaxation converges in coarse-depth rounds — each round a
    (long, long) aggregation over ~4/(S*ts) of the pixel count, fixpoint
    detected by an exact integer sum probe (monotone, so scalar equality
    == pointwise equality).
  phase B (heavy, payload shuffle #2): re-assemble each super-tile,
    inject the solved inflows at its entry pixels, and re-run the
    identical local solve.  Accumulation is linear in its sources, so
    injection finalizes every pixel exactly.

At 100 TB: the payload crosses an Exchange exactly twice (the two decode
passes; Barnes reads the DEM twice as well — store tiles bucketed by
super-tile key and both shuffles disappear), halo strips are cached so
tiles decode three times total, every iterated relation is slim longs,
and the coarse depth shrinks with 1/(S*ts).  Semantics: the pixel
universe is every cell with full global 3x3 support; flow into a
non-universe cell (the raster's outer ring) exits the DEM, exactly as in
operators/focal.d8_basins.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .. import guard
from ..codecs import decode_image
from .focal import _D8_DELTA, _ID_BASE, terrain_fields

# D8 code -> delta lookup tables for vectorized successor derivation
_DXL = np.zeros(129, dtype=np.int64)
_DYL = np.zeros(129, dtype=np.int64)
for _code, (_dx, _dy) in _D8_DELTA.items():
    _DXL[_code] = _dx
    _DYL[_code] = _dy

_REL_SCHEMA = "sx long, sy long, gx0 long, gy0 long, axis int, data binary, w long"
_COARSE_SCHEMA = "id long, succ long, w long, kind int"

# driver-solve row limits (guard.collect_small), one per solve
_ACCUM_MAX_COARSE = 4_000_000  # flow_accumulation coarse nodes / edges
_STRAHLER_MAX_EDGES = 50_000_000  # strahler_order junction-DAG edges
_FILL_MAX_EDGES = 50_000_000  # fill_depressions watershed-graph edges


def _keyed_tiles(tiles: DataFrame, ts: int, S: int, payload: str) -> DataFrame:
    """Tile rows of the halo relation — pure JVM projection, no decode."""
    return tiles.select(
        (F.col("x").cast("long") / S).cast("long").alias("sx"),
        (F.col("y").cast("long") / S).cast("long").alias("sy"),
        (F.col("x") * ts).cast("long").alias("gx0"),
        (F.col("y") * ts).cast("long").alias("gy0"),
        F.lit(-1).alias("axis"),
        F.col(payload).alias("data"),
        F.lit(0).cast("long").alias("w"),
    )


def _strip_rows(tiles: DataFrame, ts: int, S: int, payload: str, band: int) -> DataFrame:
    """1px elevation halo strips addressed to FOREIGN super-tiles only
    (axis 0 = horizontal run, 1 = vertical run; corners are length-1
    runs).  One decode per tile; slim output — cache it so phase B does
    not decode a second time just for strips."""

    def emit(batches):
        for pdf in batches:
            rows = []
            for x, y, blob in zip(pdf["x"], pdf["y"], pdf[payload]):
                x, y = int(x), int(y)
                sx, sy = x // S, y // S
                v = None
                for dr in (-1, 0, 1):
                    for dc in (-1, 0, 1):
                        if dr == 0 and dc == 0:
                            continue
                        nx, ny = x + dc, y + dr
                        if nx < 0 or ny < 0 or (nx // S, ny // S) == (sx, sy):
                            continue
                        if v is None:
                            v = decode_image(bytes(blob))[..., band]
                        r = 0 if dr < 0 else ts - 1
                        c = 0 if dc < 0 else ts - 1
                        if dr == 0:
                            sub, axis = v[:, c], 1
                            gx0, gy0 = x * ts + c, y * ts
                        elif dc == 0:
                            sub, axis = v[r, :], 0
                            gx0, gy0 = x * ts, y * ts + r
                        else:
                            sub, axis = v[r : r + 1, c], 0
                            gx0, gy0 = x * ts + c, y * ts + r
                        rows.append(
                            (nx // S, ny // S, gx0, gy0, axis,
                             np.ascontiguousarray(sub).astype(np.uint8).tobytes(), 0)
                        )
            yield pd.DataFrame(
                rows, columns=["sx", "sy", "gx0", "gy0", "axis", "data", "w"]
            )

    return tiles.mapInPandas(emit, schema=_REL_SCHEMA)


def _assemble(pdf: pd.DataFrame, G: int, band: int):
    """Rebuild one super-tile's padded elevation grid + injected rows
    from its halo-relation rows.  Returns (padded, inject, raw, ovr, ox,
    oy) — inject = pixel-addressed (row, col, w) rows (axis 2), raw =
    uninterpreted (key, w) rows (axis 3, for watershed raises), ovr =
    per-cell D8 overrides (row, col, dist, code) (axis 4, resolved flat
    directions, w packed as dist * 256 + code) — or None when the group
    holds no tile (a world-edge halo-only group)."""
    tile_rows = pdf[pdf["axis"] == -1]
    if len(tile_rows) == 0:
        return None
    sx, sy = int(pdf["sx"].iloc[0]), int(pdf["sy"].iloc[0])
    ox, oy = sx * G, sy * G
    padded = np.full((G + 2, G + 2), -1, dtype=np.int64)
    inject: list[tuple[int, int, int]] = []
    raw: list[tuple[int, int]] = []
    ovr: list[tuple[int, int, int, int]] = []
    for gx0, gy0, axis, data, w in zip(
        pdf["gx0"], pdf["gy0"], pdf["axis"], pdf["data"], pdf["w"]
    ):
        gx0, gy0, axis = int(gx0), int(gy0), int(axis)
        if axis == -1:
            v = decode_image(bytes(data))[..., band].astype(np.int64)
            r0, c0 = gy0 - oy + 1, gx0 - ox + 1
            padded[r0 : r0 + v.shape[0], c0 : c0 + v.shape[1]] = v
        elif axis == 2:
            inject.append((gy0 - oy, gx0 - ox, int(w)))
        elif axis == 3:
            raw.append((gx0, int(w)))
        elif axis == 4:
            w = int(w)
            ovr.append((gy0 - oy, gx0 - ox, w >> 8, w & 0xFF))
        else:
            a = np.frombuffer(bytes(data), dtype=np.uint8).astype(np.int64)
            r0, c0 = gy0 - oy + 1, gx0 - ox + 1
            if axis == 0:
                padded[r0, c0 : c0 + len(a)] = a
            else:
                padded[r0 : r0 + len(a), c0] = a
    return padded, inject, raw, ovr, ox, oy


def _local_fields(padded: np.ndarray, G: int, ovr=None):
    """Shared per-super-tile derivation: validity, flow targets, masks,
    and `okey` — the (elevation, flat-BFS-distance) lexicographic
    topological key.  `ovr` (from resolve_flats, via axis-4 rows) assigns
    resolved directions to flat cells; flow then moves between EQUAL
    elevations, but okey still strictly decreases along every edge
    (strict descent drops elev; an in-flat move drops dist by exactly 1;
    the spill exit drops dist to 0), so descending-okey sweeps stay a
    valid topological order.  Without overrides dist == 0 everywhere and
    okey degenerates to elev — the original strict-descent sweep."""
    f = terrain_fields(padded)
    valid, d8 = f["valid"], f["d8"]
    elev = padded[1:-1, 1:-1]
    dist = np.zeros((G, G), dtype=np.int64)
    if ovr:
        d8 = d8.copy()
        for r, c, dd, code in ovr:
            if not (0 <= r < G and 0 <= c < G and valid[r, c] and d8[r, c] == 0):
                raise AssertionError(
                    f"d8 override at non-flat/non-universe pixel (row {r}, col {c})"
                )
            d8[r, c] = code
            dist[r, c] = dd
    rr, cc = np.meshgrid(
        np.arange(G, dtype=np.int64), np.arange(G, dtype=np.int64), indexing="ij"
    )
    tr, tc = rr + _DYL[d8], cc + _DXL[d8]
    has_flow = valid & (d8 > 0)
    in_own = (tr >= 0) & (tr < G) & (tc >= 0) & (tc < G)
    trc, tcc = tr.clip(0, G - 1), tc.clip(0, G - 1)
    internal = has_flow & in_own & valid[trc, tcc]
    exits = has_flow & ~in_own
    dbig = int(dist.max()) + 1
    okey = elev * dbig + dist
    return valid, elev, tr, tc, internal, exits, okey


def _local_accumulate(
    valid: np.ndarray,
    elev: np.ndarray,
    tr: np.ndarray,
    tc: np.ndarray,
    internal: np.ndarray,
    inject: list[tuple[int, int, int]],
    G: int,
    weight_fn=None,
    combine: str = "sum",
    okey: np.ndarray | None = None,
) -> np.ndarray:
    """Exact local accumulation: level-synchronous descending sweeps over
    `okey`, the (elevation, flat-distance) lexicographic topological key
    from _local_fields (strict descent and resolved-flat moves both
    decrease it; without flat overrides it IS the elevation, <=256 levels
    on uint8).  `weight_fn(elev) -> int64 grid` sets each cell's own
    contribution (None = 1/cell, the classic contributing-cell count; an
    elevation-derived rainfall weight turns this into runoff routing).
    `combine` picks the semiring: "sum" (counting/runoff — linear) or
    "max" (upstream extremum, e.g. peak source elevation) — the whole
    two-phase decomposition only needs the aggregation to be commutative,
    associative and distributive over path concatenation, which both
    are.  Max-mode weights must be non-negative."""
    if okey is None:
        okey = elev
    if weight_fn is None:
        acc = valid.astype(np.int64)
    else:
        acc = np.where(valid, weight_fn(elev), np.int64(0)).astype(np.int64)
    scatter = np.add.at if combine == "sum" else np.maximum.at
    for r, c, w in inject:
        if not (0 <= r < G and 0 <= c < G and valid[r, c]):
            raise AssertionError(f"inflow injected at non-universe pixel ({c},{r})")
        if combine == "sum":
            acc[r, c] += w
        else:
            acc[r, c] = max(acc[r, c], w)
    for lev in np.unique(okey[valid])[::-1]:
        m = internal & (okey == lev)
        if m.any():
            scatter(acc, (tr[m], tc[m]), acc[m])
    return acc


def accumulation_to_tiles(
    acc: DataFrame,
    tile_size: int = 256,
) -> DataFrame:
    """Render the (gx, gy, acc) relation back into grayscale PNG tiles:
    pixel value = min(255, 16 * bit_length(acc)) — a pure-integer log2
    ramp (each accumulation doubling adds 16 gray levels; bit_length is
    computed with 63 shift-compares, no float log rounding).  Pixels
    absent from the relation (off-universe, or filtered by min_accum)
    render 0.  One shuffle on the tile key; groups are whole tiles, so
    applyInPandas overhead amortizes."""
    from ..codecs import encode_png

    ts = int(tile_size)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        tx, ty = int(pdf["tx"].iloc[0]), int(pdf["ty"].iloc[0])
        g = np.zeros((ts, ts), dtype=np.int64)
        r = pdf["gy"].to_numpy() - ty * ts
        c = pdf["gx"].to_numpy() - tx * ts
        a = pdf["acc"].to_numpy()
        bits = np.zeros_like(a)
        for k in range(63):
            bits += (a >> k) > 0
        g[r, c] = np.minimum(255, 16 * bits)
        blob = encode_png(g.astype(np.uint8)[:, :, None])
        return pd.DataFrame({"x": [tx], "y": [ty], "bytes": [blob], "fmt": ["png"]})

    return (
        acc.withColumn("tx", F.expr(f"gx div {ts}"))
        .withColumn("ty", F.expr(f"gy div {ts}"))
        .groupBy("tx", "ty")
        .applyInPandas(build, schema="x long, y long, bytes binary, fmt string")
    )


def flow_accumulation(
    tiles: DataFrame,
    tile_size: int = 256,
    super_tiles: int = 1,
    payload: str = "bytes",
    band: int = 0,
    min_accum: int | None = None,
    max_coarse_rounds: int = 64,
    weight_fn=None,
    combine: str = "sum",
    d8_override: DataFrame | None = None,
) -> DataFrame:
    """(gx, gy, acc): number of universe pixels whose D8 flow path passes
    through (gx, gy), the pixel itself included (so acc >= 1).  See the
    module docstring for the two-phase distributed shape.  `min_accum`
    keeps only channel pixels (acc >= min_accum) — the stream-network
    extraction threshold — so corpus-scale output stays slim.
    `combine`: "sum" (counting / runoff) or "max" (upstream extremum —
    e.g. weight_fn=elev gives each cell the peak source elevation
    draining through it).  Both are commutative, associative and
    distribute over path concatenation, so the identical two-phase
    decomposition is exact; max-mode weights must be non-negative (the
    coarse fixpoint probe relies on monotone non-negative relaxation).
    `d8_override`: a (gx, gy, dist, d8) relation from resolve_flats —
    flat cells then drain along the resolved directions (the TauDEM
    fill -> resolve -> accumulate chain), with the topological sweeps
    upgraded to the (elevation, flat-distance) lexicographic key and the
    transfer-map pointer doubling widened to cover in-flat path lengths
    (log2(G^2) rounds instead of the 256-level strict-descent bound).
    Override rows are slim longs keyed to their own super-tile, so they
    ride the existing phase A/B shuffles at no extra payload cost."""
    if combine not in ("sum", "max"):
        raise ValueError(f"combine must be 'sum' or 'max', got {combine!r}")
    ts, S = int(tile_size), int(super_tiles)
    G = S * ts
    spark = tiles.sparkSession

    tiles_keyed = _keyed_tiles(tiles, ts, S, payload)
    strips = _strip_rows(tiles, ts, S, payload, band).persist()
    relation = tiles_keyed.unionByName(strips)
    if d8_override is not None:
        ovr_rows = d8_override.filter(F.col("d8") > 0).select(
            F.expr(f"gx div {G}").alias("sx"),
            F.expr(f"gy div {G}").alias("sy"),
            F.col("gx").alias("gx0"),
            F.col("gy").alias("gy0"),
            F.lit(4).alias("axis"),
            F.lit(None).cast("binary").alias("data"),
            (F.col("dist") * 256 + F.col("d8")).cast("long").alias("w"),
        )
        relation = relation.unionByName(ovr_rows)

    def solve_a(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {c: pd.Series(dtype="int64") for c in ["id", "succ", "w", "kind"]}
        )
        got = _assemble(pdf, G, band)
        if got is None:
            return empty
        padded, _, _, ovr, ox, oy = got
        valid, elev, tr, tc, internal, exits, okey = _local_fields(padded, G, ovr)
        acc = _local_accumulate(
            valid, elev, tr, tc, internal, [], G, weight_fn, combine, okey
        )
        out = []
        # exit partials: flow leaving this super-tile, keyed by the
        # TARGET border pixel of the neighbor (kind 0)
        er, ec = np.nonzero(exits)
        if len(er):
            gid = (tc[er, ec] + ox) * _ID_BASE + (tr[er, ec] + oy)
            agg: dict[int, int] = {}
            for g, a in zip(gid, acc[er, ec]):
                if combine == "sum":
                    agg[int(g)] = agg.get(int(g), 0) + int(a)
                else:
                    agg[int(g)] = max(agg.get(int(g), 0), int(a))
            out.append(
                pd.DataFrame(
                    {"id": list(agg), "succ": -1, "w": list(agg.values()), "kind": 0}
                )
            )
        # transfer map: every valid border-ring pixel is a potential
        # entry; pointer-double the in-tile successor field to find where
        # an injected unit LEAVES (or that it sinks locally) (kind 1)
        ring = np.zeros((G, G), dtype=bool)
        ring[0, :] = ring[-1, :] = True
        ring[:, 0] = ring[:, -1] = True
        entries = ring & valid
        if entries.any():
            lin = np.arange(G * G, dtype=np.int64)
            nxt = np.where(internal.ravel(), (tr * G + tc).ravel(), lin)
            term = nxt
            # 2^8 = 256 covers any strictly-descending path; resolved
            # flats allow equal-elevation runs, so widen to 2^k >= G*G
            # (a path visits each cell at most once)
            dbl = 8 if not ovr else max(8, int(G * G - 1).bit_length())
            for _ in range(dbl):
                term = term[term]
            e_lin = lin[entries.ravel()]
            t_lin = term[e_lin]
            t_r, t_c = t_lin // G, t_lin % G
            is_exit = exits.ravel()[t_lin]
            succ_gid = np.where(
                is_exit,
                (tc[t_r, t_c] + ox) * _ID_BASE + (tr[t_r, t_c] + oy),
                np.int64(-1),
            )
            entry_gid = (e_lin % G + ox) * _ID_BASE + (e_lin // G + oy)
            out.append(
                pd.DataFrame({"id": entry_gid, "succ": succ_gid, "w": 0, "kind": 1})
            )
        return pd.concat(out, ignore_index=True) if out else empty

    coarse = (
        relation.groupBy("sx", "sy")
        .applyInPandas(lambda pdf: solve_a(pdf), schema=_COARSE_SCHEMA)
        .persist()
    )
    entries_df = coarse.filter(F.col("kind") == 1).select("id", "succ")
    # flow targeting a non-universe border pixel exits the raster: only
    # targets that are real entries (valid in their own super-tile) count
    # the coarse-graph combine mirrors the semiring: partials from several
    # source super-tiles targeting one entry pixel fold with sum|max
    comb = F.sum if combine == "sum" else F.max
    w_df = (
        coarse.filter(F.col("kind") == 0)
        .groupBy("id")
        .agg(comb("w").alias("w"))
        .join(entries_df.select("id"), "id", "left_semi")
    )
    edges = entries_df.filter(F.col("succ") >= 0)

    # Guarded driver relaxation (the fill_depressions / contracted-CC
    # pattern): the coarse graph holds only super-tile border pixels
    # (~4/(S*ts) of cells), and each relational round costs ~2 fixed
    # Spark jobs regardless of row count — below the guard, run the
    # exact fixpoint as a Kahn topological accumulation over the
    # FUNCTIONAL coarse graph on the driver (same integer comb, same
    # open-graph error on a cycle).  Past the guard the relational rounds
    # run (still the at-scale path).
    rounds = 0
    total = None
    inflow = None
    w_pd = guard.collect_small(w_df, _ACCUM_MAX_COARSE, "flow_accumulation")
    e_pd = (
        None if w_pd is None
        else guard.collect_small(edges, _ACCUM_MAX_COARSE, "flow_accumulation")
    )
    if e_pd is not None:
        succ_m = dict(zip(e_pd["id"].astype(int), e_pd["succ"].astype(int)))
        val = dict(zip(w_pd["id"].astype(int), w_pd["w"].astype(int)))
        indeg: dict[int, int] = {}
        for v in succ_m.values():
            indeg[v] = indeg.get(v, 0) + 1
        ready = [u for u in succ_m if indeg.get(u, 0) == 0]
        n_done = 0
        while ready:
            u = ready.pop()
            n_done += 1
            v = succ_m[u]
            if u in val:
                uv = val[u]
                val[v] = (
                    val.get(v, 0) + uv if combine == "sum"
                    else max(val.get(v, 0), uv)
                )
            indeg[v] -= 1
            if indeg[v] == 0 and v in succ_m:
                ready.append(v)
        if n_done < len(succ_m):
            raise RuntimeError(
                "flow_accumulation: coarse graph has a cycle "
                f"({len(succ_m) - n_done} nodes unresolved)"
            )
        total = sum(val.values()) if val else None
        inflow = spark.createDataFrame(
            pd.DataFrame(
                {"id": list(val), "w": list(val.values())}, dtype="int64"
            ),
            "id long, w long",
        )
    if inflow is None:
        inflow = w_df.localCheckpoint()
        total = inflow.agg(F.sum("w")).collect()[0][0]
        if total is not None:  # empty coarse graph: single super-tile world
            while rounds < max_coarse_rounds:
                fwd = (
                    inflow.join(edges, "id")
                    .filter(F.col("succ") >= 0)
                    .select(F.col("succ").alias("id"), F.col("w"))
                )
                inflow = (
                    w_df.unionByName(fwd).groupBy("id").agg(comb("w").alias("w"))
                ).localCheckpoint()
                rounds += 1
                new_total = inflow.agg(F.sum("w")).collect()[0][0]
                if new_total == total:  # exact integer fixpoint (monotone)
                    break
                total = new_total
            else:
                raise RuntimeError(
                    f"flow_accumulation: coarse relaxation open after {max_coarse_rounds} rounds"
                )
    guard.note("flow_accumulation", rounds=rounds, inflow_total=int(total or 0))

    # forwarded inflow can terminate at an exit target that is NOT a
    # valid entry anywhere (flow leaving the raster through a foreign
    # world-ring pixel, e.g. a diagonal corner exit) — such flow exits
    # the DEM, exactly like the semi-filtered initial partials, so drop
    # it before injection (stranded ids have no outgoing edge, so they
    # never forwarded further; only phase B injection must not see them)
    inflow = inflow.join(entries_df.select("id"), "id", "left_semi")
    inflow_rows = inflow.select(
        F.expr(f"id div {_ID_BASE} div {G}").alias("sx"),
        ((F.col("id") % _ID_BASE) / G).cast("long").alias("sy"),
        F.expr(f"id div {_ID_BASE}").alias("gx0"),
        (F.col("id") % _ID_BASE).alias("gy0"),
        F.lit(2).alias("axis"),
        F.lit(None).cast("binary").alias("data"),
        F.col("w"),
    )

    def solve_b(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({c: pd.Series(dtype="int64") for c in ["gx", "gy", "acc"]})
        got = _assemble(pdf, G, band)
        if got is None:
            return empty
        padded, inject, _, ovr, ox, oy = got
        valid, elev, tr, tc, internal, _exits, okey = _local_fields(padded, G, ovr)
        acc = _local_accumulate(
            valid, elev, tr, tc, internal, inject, G, weight_fn, combine, okey
        )
        keep = valid if min_accum is None else (valid & (acc >= min_accum))
        r, c = np.nonzero(keep)
        return pd.DataFrame({"gx": c + ox, "gy": r + oy, "acc": acc[r, c]})

    return (
        relation.unionByName(inflow_rows)
        .groupBy("sx", "sy")
        .applyInPandas(lambda pdf: solve_b(pdf), schema="gx long, gy long, acc long")
    )


_BIG = 1 << 40  # BFS infinity that still sums safely across a raster


def resolve_flats(
    tiles: DataFrame,
    tile_size: int = 256,
    super_tiles: int = 1,
    payload: str = "bytes",
    band: int = 0,
    max_bfs_rounds: int = 64,
) -> DataFrame:
    """(gx, gy, dist, d8): towards-lower flat resolution — the
    Garbrecht & Martz (1997) / Barnes et al. (2014, "An efficient
    assignment of drainage direction over flat surfaces") gradient that
    lets D8 drain FLATS (cells with no strictly lower neighbor), the
    missing link between depression filling and flow analysis: filled
    lakes are flats, and integer-quantised surfaces are full of
    terraces.  For every flat cell: `dist` = BFS distance (8-adjacent,
    equal elevation) to the nearest spill — an equal-elevation cell that
    already drains (d8 > 0) — and `d8` = the direction of the
    dist-descending neighbor (ties by ascending ESRI code, the engine's
    universal tie-break).  Plateau tops with no spill stay (dist -1,
    d8 0): they remain sinks, as in GDAL.  Only the towards-lower
    component is computed; Barnes' away-from-higher term shapes
    aesthetics inside wide flats but is not needed for drainage
    correctness (dist strictly decreases along resolved flow, so every
    resolved path exits its flat).

    Distributed shape: ONE heavy pass (same super-tile + 1px halo
    relation as flow_accumulation) decodes the payload, finds flat
    cells, and emits only slim rows — flat cells (dist infinity), local
    spill sources (dist 0: draining cells that touch an equal-elevation
    flat cell), and halo source grants addressed to neighbor super-tiles
    (a draining cell on the border is a source for the neighbor's flat
    cells too).  The BFS then iterates on the SLIM relation only:
    per-round, border flat rows are re-keyed to adjacent super-tiles,
    each group runs a vectorized multi-source level-BFS, and an exact
    integer sum probe (capped at _BIG; monotone decreasing) detects the
    fixpoint.  Rounds = super-tile crossings of the longest in-flat BFS
    path (a lake spanning k super-tiles costs ~k slim rounds — the same
    bound as TauDEM's published MPI flat resolution); the payload is
    decoded exactly once."""
    ts, S = int(tile_size), int(super_tiles)
    G = S * ts
    relation = _keyed_tiles(tiles, ts, S, payload).unionByName(
        _strip_rows(tiles, ts, S, payload, band)
    )

    state_schema = "sx long, sy long, gx long, gy long, elev long, dist long, src int"

    def phase_a(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["sx", "sy", "gx", "gy", "elev", "dist", "src"]
        empty = pd.DataFrame({c: pd.Series(dtype="int64") for c in cols})
        got = _assemble(pdf, G, band)
        if got is None:
            return empty
        padded, _, _, _, ox, oy = got
        f = terrain_fields(padded)
        valid, d8 = f["valid"], f["d8"]
        elev = padded[1:-1, 1:-1]
        flat = valid & (d8 == 0)
        drains = valid & (d8 > 0)
        sx, sy = ox // G, oy // G
        # padded-frame masks for vectorized 8-shift neighbor tests
        flat_p = np.zeros((G + 2, G + 2), dtype=bool)
        flat_p[1:-1, 1:-1] = flat
        # own spill sources: draining cells with an equal-elevation own
        # flat neighbor (all eight shifts at once)
        own_src = np.zeros((G, G), dtype=bool)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                if dx == 0 and dy == 0:
                    continue
                nb_flat = flat_p[1 + dy : G + 1 + dy, 1 + dx : G + 1 + dx]
                nb_elev = padded[1 + dy : G + 1 + dy, 1 + dx : G + 1 + dx]
                own_src |= nb_flat & (nb_elev == elev)
        own_src &= drains
        parts = []
        fr, fc = np.nonzero(flat)
        parts.append(
            pd.DataFrame(
                {"sx": sx, "sy": sy, "gx": ox + fc, "gy": oy + fr,
                 "elev": elev[fr, fc], "dist": _BIG, "src": 0}
            )
        )
        sr_, sc_ = np.nonzero(own_src)
        parts.append(
            pd.DataFrame(
                {"sx": sx, "sy": sy, "gx": ox + sc_, "gy": oy + sr_,
                 "elev": elev[sr_, sc_], "dist": 0, "src": 1}
            )
        )
        # source grants: draining RING cells whose equal-elevation
        # neighbor lies in a foreign super-tile (its owner decides
        # whether that halo cell is flat) — ring only, cheap python loop
        ring = np.zeros((G, G), dtype=bool)
        ring[0, :] = ring[-1, :] = True
        ring[:, 0] = ring[:, -1] = True
        rows = []
        for r, c in zip(*np.nonzero(drains & ring)):
            e0 = int(elev[r, c])
            grants = set()
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if dx == 0 and dy == 0:
                        continue
                    rr2, cc2 = r + dy, c + dx
                    if 0 <= rr2 < G and 0 <= cc2 < G:
                        continue
                    if int(padded[rr2 + 1, cc2 + 1]) == e0:
                        gxn, gyn = ox + cc2, oy + rr2
                        if gxn >= 0 and gyn >= 0:
                            grants.add((gxn // G, gyn // G))
            for gsx, gsy in grants:
                rows.append((gsx, gsy, ox + c, oy + r, e0, 0, 1))
        if rows:
            parts.append(pd.DataFrame(rows, columns=cols))
        out = pd.concat(parts, ignore_index=True)
        return out.astype({c: "int64" for c in cols[:-1]} | {"src": "int32"})

    state = (
        relation.groupBy("sx", "sy")
        .applyInPandas(lambda pdf: phase_a(pdf), schema=state_schema)
        .localCheckpoint()
    )

    def bfs_round(pdf: pd.DataFrame, emit_dirs: bool = False) -> pd.DataFrame:
        """Vectorized multi-source level-BFS over one super-tile's slim
        rows (own flats src=0, persistent sources src=1, transient halo
        copies src=2).  Dial's algorithm as whole-grid numpy sweeps:
        process finite dist values ascending; each frontier relaxes all
        8 directions at once with shifted-slice compares (equal-elevation
        edges only; targets restricted to own flats — sources and halos
        are fixed boundary conditions).  Iterations = distinct finite
        dist values, each O(G^2) vector ops — no per-cell Python.
        Returns persistent rows with updated dists — or, with emit_dirs,
        the final (gx, gy, dist, d8) per own flat cell."""
        sx, sy = int(pdf["sx"].iloc[0]), int(pdf["sy"].iloc[0])
        ox, oy = sx * G, sy * G
        r_ = (pdf["gy"].to_numpy() - oy + 1).astype(np.int64)
        c_ = (pdf["gx"].to_numpy() - ox + 1).astype(np.int64)
        el = pdf["elev"].to_numpy().astype(np.int64)
        di = pdf["dist"].to_numpy().astype(np.int64)
        sr = pdf["src"].to_numpy().astype(np.int64)
        dist = np.full((G + 2, G + 2), _BIG, dtype=np.int64)
        elev_a = np.full((G + 2, G + 2), -1, dtype=np.int64)
        own_flat = np.zeros((G + 2, G + 2), dtype=bool)
        np.minimum.at(dist, (r_, c_), di)
        elev_a[r_, c_] = el
        own = sr == 0
        own_flat[r_[own], c_[own]] = True
        # interior (own-cell) views; source views are the 8 shifts
        t_dist = dist[1 : G + 1, 1 : G + 1]
        t_flat = own_flat[1 : G + 1, 1 : G + 1]
        t_elev = elev_a[1 : G + 1, 1 : G + 1]

        def shifted(a: np.ndarray, dy: int, dx: int) -> np.ndarray:
            return a[1 + dy : G + 1 + dy, 1 + dx : G + 1 + dx]

        deltas = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)
                  if not (dy == 0 and dx == 0)]
        processed = np.zeros((G + 2, G + 2), dtype=bool)
        while True:
            m = (dist < _BIG) & ~processed
            if not m.any():
                break
            d = int(dist[m].min())
            frontier = m & (dist == d)
            processed |= frontier
            for dy, dx in deltas:
                upd = (
                    shifted(frontier, dy, dx)
                    & t_flat
                    & (shifted(elev_a, dy, dx) == t_elev)
                    & (t_dist > d + 1)
                )
                t_dist[upd] = d + 1
        if not emit_dirs:
            keep = sr != 2
            out = pdf[keep].copy()
            out["dist"] = dist[r_[keep], c_[keep]]
            return out
        # final: resolved direction = lowest-ESRI-code neighbor with
        # equal elevation and dist exactly one less — 8 ascending-code
        # vector passes, first hit wins (== the ESRI tie-break)
        finite = t_flat & (t_dist < _BIG)
        code_grid = np.zeros((G, G), dtype=np.int64)
        for cand, (dx, dy) in sorted(_D8_DELTA.items()):
            ok = (
                finite
                & (code_grid == 0)
                & (shifted(elev_a, dy, dx) == t_elev)
                & (shifted(dist, dy, dx) == t_dist - 1)
            )
            code_grid[ok] = cand
        if bool((finite & (code_grid == 0)).any()):
            rr, cc = np.nonzero(finite & (code_grid == 0))
            raise AssertionError(
                "resolve_flats: finite-dist flat cell without a "
                f"dist-descending neighbor at ({ox + cc[0]}, {oy + rr[0]})"
            )
        fr, fc = np.nonzero(t_flat)
        d_out = np.where(t_dist[fr, fc] < _BIG, t_dist[fr, fc], np.int64(-1))
        return pd.DataFrame(
            {"gx": ox + fc, "gy": oy + fr, "dist": d_out,
             "d8": code_grid[fr, fc].astype(np.int32)}
        )

    def halo_copies(st: DataFrame) -> DataFrame:
        """Flat/source rows on the super-tile ring, re-keyed to each
        adjacent foreign super-tile (transient, src=2)."""
        on_ring = (
            (F.col("gx") % G == 0) | (F.col("gx") % G == G - 1)
            | (F.col("gy") % G == 0) | (F.col("gy") % G == G - 1)
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
        return (
            st.filter(on_ring & (F.col("dist") < _BIG))
            .select("gx", "gy", "elev", "dist", F.explode(nbrs).alias("nb"))
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
                "gx", "gy", "elev", "dist",
                F.lit(2).alias("src"),
            )
            .distinct()
        )

    probe = state.filter(F.col("src") == 0).agg(
        F.sum(F.least(F.col("dist"), F.lit(_BIG))).alias("s")
    )
    total = probe.collect()[0][0] or 0
    rounds = 0
    while rounds < max_bfs_rounds:
        grouped = state.unionByName(halo_copies(state))
        state = (
            grouped.groupBy("sx", "sy")
            .applyInPandas(lambda pdf: bfs_round(pdf), schema=state_schema)
            .localCheckpoint()
        )
        rounds += 1
        new_total = state.filter(F.col("src") == 0).agg(
            F.sum(F.least(F.col("dist"), F.lit(_BIG))).alias("s")
        ).collect()[0][0] or 0
        if new_total == total:  # monotone decreasing -> pointwise fixpoint
            break
        total = new_total
    else:
        raise RuntimeError(
            f"resolve_flats: BFS open after {max_bfs_rounds} rounds — a flat "
            "spans more super-tiles than the bound; raise super_tiles or "
            "max_bfs_rounds"
        )
    guard.note("resolve_flats", rounds=rounds)
    return (
        state.unionByName(halo_copies(state))
        .groupBy("sx", "sy")
        .applyInPandas(
            lambda pdf: bfs_round(pdf, emit_dirs=True),
            schema="gx long, gy long, dist long, d8 int",
        )
    )


def strahler_order(
    succ_df: DataFrame,
    streams: DataFrame,
    max_rounds: int = 64,
    doubling_rounds: int | None = None,
) -> DataFrame:
    """(id, strahler): Strahler stream order over an extracted channel
    network — the TauDEM/ArcGIS "Stream Order" operator (the reference
    has no hydrology).  `succ_df` is the (id, succ) D8 functional graph
    (focal.d8_successors: sinks self-loop); `streams` the channel-cell
    ids (e.g. flow_accumulation(min_accum=T)).  Semantics: head cells
    (no channel inflow) are order 1; a cell where channels meet takes
    max(incoming orders) + 1 if >= 2 incoming reaches attain that max,
    else the max; chain cells inherit their unique predecessor.

    Distributed shape — Strahler does NOT fold into a semiring (the
    junction rule needs the multiset of incoming orders), so instead of
    per-cell relaxation (O(reach length) rounds) the network contracts
    to its SEGMENTS: order is constant from each anchor (head or
    junction) down to the next junction.  Three slim passes:
      1. anchor labeling — pointer doubling UP the unique-predecessor
         chains (a functional graph, so Wyllie doubling applies),
      2. segment -> next-junction edges — pure joins, no second
         doubling: a segment ending at junction j is exactly the anchor
         label of one of j's channel predecessors, so
         edges = anchor(preds-of-junctions) -> junction,
      3. junction-DAG solve — the contracted (anchor, junction) edge
         list holds one row per SEGMENT.  guard.collect_small collects
         it and a sequential Kahn pass runs on the driver when it fits
         _STRAHLER_MAX_EDGES — the same guarded driver-solve shape as
         fill_depressions (Barnes' own coarse step), justified
         identically: the contraction shrinks the data by orders of
         magnitude and the leftover recursion is latency-, not
         volume-bound.  Past the guard it falls back to distributed
         Jacobi rounds of (long, long) aggregates
         with an exact integer-sum fixpoint probe (the junction rule is
         pointwise monotone, so scalar equality == pointwise fixpoint).
         Honesty note: the distributed relaxation converges in O(longest
         chain of causally-dependent order CHANGES) rounds — typically
         close to the max order (Earth rivers top out ~12), but a
         mainstem with order-increasing tributaries at every confluence
         degrades toward junction-chain depth; per-level chain
         contraction (rake/compress) is the known upgrade if a real
         network ever trips max_rounds.
    `doubling_rounds`: fixed round count for the anchor doubling pass
    when the caller knows the longest chain (2^rounds cells) — skips the
    per-round fixpoint probes.
    Channel cells are a thin fraction of the raster and segments a thin
    fraction of channels, so every iterated relation is tiny at scale;
    the DEM payload is never touched."""
    from .focal import d8_basins

    sset = streams.select("id")
    # channel-restricted successor: NULL when the cell is a sink
    # (self-loop), flows off-raster, or into a non-channel cell
    e = (
        succ_df.join(sset, "id", "left_semi")
        .withColumn(
            "succ",
            F.when(F.col("succ") == F.col("id"), F.lit(None)).otherwise(F.col("succ")),
        )
        .join(
            sset.select(F.col("id").alias("sid")),
            F.col("succ") == F.col("sid"),
            "left",
        )
        .select(
            "id", F.when(F.col("sid").isNotNull(), F.col("succ")).alias("succ")
        )
    )
    indeg = (
        e.filter(F.col("succ").isNotNull())
        .groupBy(F.col("succ").alias("id"))
        .agg(F.count("*").alias("indeg"))
    )
    cells = (
        e.join(indeg, "id", "left").fillna(0, subset=["indeg"]).localCheckpoint()
    )

    # 1. anchors = heads (indeg 0) + junctions (indeg >= 2); chain cells
    # point UP to their unique predecessor -> functional graph -> doubling
    preds = cells.filter(F.col("succ").isNotNull()).select(
        F.col("succ").alias("id"), F.col("id").alias("pred")
    )
    up = (
        cells.filter(F.col("indeg") == 1)
        .select("id")
        .join(preds, "id")
        .select("id", F.col("pred").alias("succ"))
        .unionByName(
            cells.filter(F.col("indeg") != 1).select("id", F.col("id").alias("succ"))
        )
    )
    anchor = d8_basins(
        up, rounds=doubling_rounds, max_rounds=max_rounds
    ).withColumnRenamed("label", "anchor")

    # 2. segment edges: the segment that ENDS at junction j is the one
    # containing each channel predecessor p of j, and a segment is named
    # by its anchor — so edges = (anchor(p), j), pure joins on the
    # already-computed anchor labels, no second doubling pass
    junctions = cells.filter(F.col("indeg") >= 2).select("id")
    edges = (
        cells.join(
            junctions.select(F.col("id").alias("j")), F.col("succ") == F.col("j")
        )
        .select(F.col("id").alias("pid"), "j")
        .join(
            anchor.select(F.col("id").alias("pid"), F.col("anchor").alias("a")),
            "pid",
        )
        .select("a", "j")
        .localCheckpoint()
    )

    # 3. junction-DAG solve
    anchors_df = cells.filter(F.col("indeg") != 1).select("id")
    edge_pd = guard.collect_small(edges, _STRAHLER_MAX_EDGES, "strahler_order")
    if edge_pd is not None:
        # sequential Kahn on the driver over the contracted DAG
        incoming: dict[int, list[int]] = {}
        out: dict[int, int] = {}
        for a, j in zip(edge_pd["a"].tolist(), edge_pd["j"].tolist()):
            incoming.setdefault(j, []).append(a)
            out[a] = j
        from collections import deque

        order: dict[int, int] = {}
        ready: deque[int] = deque()
        for r in anchors_df.collect():
            i = int(r["id"])
            if i not in incoming:  # heads, and junctions the edges missed
                order[i] = 1
                ready.append(i)
        remaining = {j: len(v) for j, v in incoming.items()}
        while ready:
            a = ready.popleft()
            j = out.get(a)
            if j is None:
                continue
            remaining[j] -= 1
            if remaining[j] == 0:
                ws = [order[x] for x in incoming[j]]
                m0 = max(ws)
                order[j] = m0 + (1 if ws.count(m0) >= 2 else 0)
                ready.append(j)
        if any(v > 0 for v in remaining.values()):
            raise AssertionError("strahler_order: junction DAG has a cycle")
        guard.note("strahler_order", junctions=len(incoming))
        ordr = succ_df.sparkSession.createDataFrame(
            list(order.items()), "id long, w long"
        )
        return anchor.join(
            ordr.select(F.col("id").alias("anchor"), F.col("w").alias("strahler")),
            "anchor",
        ).select("id", "strahler")

    # distributed Jacobi relaxation from the all-ones lower bound
    anchors_df = anchors_df.localCheckpoint()
    ordr = anchors_df.select("id", F.lit(1).cast("long").alias("w")).localCheckpoint()
    total = ordr.agg(F.sum("w")).collect()[0][0] or 0
    rounds = 0
    if not junctions.isEmpty():
        while rounds < max_rounds:
            contrib = (
                edges.join(ordr.select(F.col("id").alias("a"), "w"), "a")
                .groupBy("j", "w")
                .agg(F.count("*").alias("cnt"))
            )
            nw = (
                contrib.groupBy("j")
                .agg(F.max("w").alias("m"), F.max_by("cnt", "w").alias("cm"))
                .select(
                    F.col("j").alias("id"),
                    (F.col("m") + F.when(F.col("cm") >= 2, 1).otherwise(0))
                    .cast("long")
                    .alias("w"),
                )
            )
            ordr = (
                anchors_df.join(nw, "id", "left")
                .select("id", F.coalesce("w", F.lit(1).cast("long")).alias("w"))
                .localCheckpoint()
            )
            rounds += 1
            new_total = ordr.agg(F.sum("w")).collect()[0][0]
            if new_total == total:  # monotone -> exact pointwise fixpoint
                break
            total = new_total
        else:
            raise RuntimeError(
                f"strahler_order: junction relaxation open after {max_rounds} rounds"
            )
    guard.note("strahler_order", rounds=rounds)
    return anchor.join(
        ordr.select(F.col("id").alias("anchor"), F.col("w").alias("strahler")),
        "anchor",
    ).select("id", "strahler")


_INF = 1 << 62
_LABMOD = 1 << 21  # watershed node = (sx * 2^21 + sy) * 2^21 + local label


def _flood(v: np.ndarray):
    """Sequential Priority-Flood (Barnes et al. 2014, the O(n log n)
    variant as max-relaxation Dijkstra) over ONE super-tile, seeded from
    its perimeter cells at raw elevation.  Deterministic: heap orders
    (z, row, col).  Returns (z, lab, edges):
      z     tile-local fill — the minimax flood level from the tile's own
            open perimeter,
      lab   1..K watershed label per cell (K perimeter seeds, scan order),
      edges {(la, lb): w} region minimax graph — min over adjacent
            differing-label cell pairs of max(z_a, z_b) (z IS the minimax
            from each region's seed, so the pair max is the exact
            region-to-region spill through that crossing)."""
    import heapq

    G = v.shape[0]
    z = np.full((G, G), _INF, dtype=np.int64)
    lab = np.zeros((G, G), dtype=np.int64)
    heap = []
    k = 0
    for r in range(G):
        cols = range(G) if r in (0, G - 1) else (0, G - 1)
        for c in cols:
            k += 1
            z[r, c] = v[r, c]
            lab[r, c] = k
            heap.append((int(v[r, c]), r, c))
    heapq.heapify(heap)
    pop, push = heapq.heappop, heapq.heappush
    while heap:
        z0, r, c = pop(heap)
        if z0 > z[r, c]:
            continue
        for nr in (r - 1, r, r + 1):
            if nr < 0 or nr >= G:
                continue
            for nc in (c - 1, c, c + 1):
                if nc < 0 or nc >= G or (nr == r and nc == c):
                    continue
                zz = z0 if z0 > v[nr, nc] else int(v[nr, nc])
                if zz < z[nr, nc]:
                    z[nr, nc] = zz
                    lab[nr, nc] = lab[r, c]
                    push(heap, (zz, nr, nc))
    edges: dict[tuple[int, int], int] = {}
    for dr, dc in ((0, 1), (1, 0), (1, 1), (1, -1)):
        r0a, r1a = max(0, -dr), G - max(0, dr)
        c0a, c1a = max(0, -dc), G - max(0, dc)
        la = lab[r0a:r1a, c0a:c1a]
        lb = lab[r0a + dr : r1a + dr, c0a + dc : c1a + dc]
        za = z[r0a:r1a, c0a:c1a]
        zb = z[r0a + dr : r1a + dr, c0a + dc : c1a + dc]
        m = la != lb
        if not m.any():
            continue
        u = np.minimum(la[m], lb[m])
        vv = np.maximum(la[m], lb[m])
        w = np.maximum(za[m], zb[m])
        key = u * (4 * G + 2) + vv
        uniq, inv = np.unique(key, return_inverse=True)
        wmin = np.full(len(uniq), _INF, dtype=np.int64)
        np.minimum.at(wmin, inv, w)
        for kk, ww in zip(uniq, wmin):
            pair = (int(kk) // (4 * G + 2), int(kk) % (4 * G + 2))
            if ww < edges.get(pair, _INF):
                edges[pair] = int(ww)
    return z, lab, edges


def fill_depressions(
    tiles: DataFrame,
    tile_size: int = 256,
    super_tiles: int = 1,
    payload: str = "bytes",
    band: int = 0,
    emit: str = "pixels",
) -> DataFrame:
    """Distributed depression filling — Barnes et al. 2016 ("Parallel
    Priority-Flood depression filling for trillion cell DEMs") as Spark
    relations:

      phase A (payload shuffle #1): each super-tile runs sequential
        Priority-Flood from its own perimeter, emitting ONLY slim rows —
        the intra-tile region minimax graph, an ocean edge per
        global-border watershed, and one (pixel gid, watershed node,
        elev) row per perimeter cell for cross-tile linking.
      spill solve (slim): adjacent perimeter cells across tile borders
        join into cross edges (weight = max of the two raw elevations —
        both are seeds, so z == elev); the global watershed raise is the
        MINIMAX distance from the ocean node, solved with a sequential
        heap on the DRIVER over the collected watershed graph — Barnes'
        own design; see the inline comment for why a distributed
        round-based relaxation is the wrong shape here, and the
        _FILL_MAX_EDGES guard.
      phase B (payload shuffle #2): re-run the identical deterministic
        flood per super-tile and finalize fill(c) = max(z_local(c),
        raise(watershed(c))) — Barnes' RaiseCells step.

    Semantics: water drains off the raster edge (the DEM perimeter is the
    ocean); output covers every cell.  `emit`: "pixels" -> (gx, gy, elev,
    filled); "tiles" -> (x, y, bytes, fmt) grayscale PNG tile table of the
    filled surface, ready to feed the D8 stack.  At 100 TB the payload
    crosses an Exchange exactly twice and the iterated relation holds one
    row per WATERSHED (~perimeter cells / tile), not per pixel."""
    ts, S = int(tile_size), int(super_tiles)
    G = S * ts
    relation = _keyed_tiles(tiles, ts, S, payload)
    mx = tiles.agg(F.max("x").alias("mx"), F.max("y").alias("my")).first()
    world_n = (max(int(mx["mx"]), int(mx["my"])) + 1) * ts

    def solve_a(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = ["kind", "a", "b", "w"]
        got = _assemble(pdf, G, band)
        if got is None:
            return pd.DataFrame({c: pd.Series(dtype="int64") for c in cols})
        padded, _, _, _, ox, oy = got
        v = padded[1:-1, 1:-1]
        if (v < 0).any():
            raise ValueError("fill_depressions needs a complete tile grid")
        z, lab, edges = _flood(v)
        base = ((ox // G) * _LABMOD + (oy // G)) * _LABMOD
        rows = [(0, base + la, base + lb, w) for (la, lb), w in edges.items()]
        # perimeter rows + ocean edges
        ring = np.zeros((G, G), dtype=bool)
        ring[0, :] = ring[-1, :] = True
        ring[:, 0] = ring[:, -1] = True
        rr, cc = np.nonzero(ring)
        ocean: dict[int, int] = {}
        for r, c in zip(rr, cc):
            node = base + int(lab[r, c])
            gx, gy = ox + int(c), oy + int(r)
            rows.append((1, gx * _ID_BASE + gy, node, int(v[r, c])))
            if gx in (0, world_n - 1) or gy in (0, world_n - 1):
                if int(v[r, c]) < ocean.get(node, _INF):
                    ocean[node] = int(v[r, c])
        rows.extend((0, 0, node, w) for node, w in ocean.items())
        return pd.DataFrame(rows, columns=cols)

    coarse = (
        relation.groupBy("sx", "sy")
        .applyInPandas(lambda pdf: solve_a(pdf), schema="kind int, a long, b long, w long")
        .persist()
    )
    intra = coarse.filter(F.col("kind") == 0).select("a", "b", "w")
    per = coarse.filter(F.col("kind") == 1).select(
        F.col("a").alias("gid"), F.col("b").alias("node"), F.col("w").alias("elev")
    )
    nb_gids = F.array(
        *[
            (F.expr(f"gid div {_ID_BASE}") + dx) * _ID_BASE
            + (F.col("gid") % _ID_BASE) + dy
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        ]
    )
    cross = (
        per.select("gid", "node", "elev", F.explode(nb_gids).alias("ngid"))
        .join(
            per.select(
                F.col("gid").alias("gid2"),
                F.col("node").alias("node2"),
                F.col("elev").alias("elev2"),
            ),
            on=F.col("ngid") == F.col("gid2"),
        )
        .filter(F.col("gid") < F.col("gid2"))
        .filter(
            F.expr(f"node div {_LABMOD}") != F.expr(f"node2 div {_LABMOD}")
        )
        .select(
            F.col("node").alias("a"),
            F.col("node2").alias("b"),
            F.greatest("elev", "elev2").alias("w"),
        )
    )
    edges = intra.unionByName(cross).groupBy("a", "b").agg(F.min("w").alias("w"))
    # Global minimax-from-ocean, solved SEQUENTIALLY on the driver —
    # this is Barnes' own design (their alg. 2/3 runs the watershed graph
    # on one rank): the graph holds one node per perimeter WATERSHED
    # (~4/(S*ts) of the cells shrink to ~per-tile-perimeter seeds), e.g.
    # trillion-cell DEMs yield tens of millions of rows — a driver heap,
    # not a distributed iteration.  A round-based distributed relaxation
    # is NOT scale-correct here: chains of single-cell perimeter
    # watersheds give the graph O(raster-side) diameter, so one-hop-per-
    # round relaxation needs thousands of rounds (measured: open after 64
    # rounds at a mere 4x4 tiles).  Guarded: _FILL_MAX_EDGES caps the
    # collect; past it, raise and point at larger super_tiles.
    edge_pd = guard.collect_small(edges, _FILL_MAX_EDGES, "fill_depressions")
    if edge_pd is None:
        raise ValueError(
            f"fill_depressions: watershed graph has > {_FILL_MAX_EDGES} "
            "edges; raise super_tiles to shrink the perimeter fraction "
            "(graph size ~ 4/(S*ts))"
        )
    import heapq

    adj: dict[int, list[tuple[int, int]]] = {}
    for a, b, w in zip(
        edge_pd["a"].tolist(), edge_pd["b"].tolist(), edge_pd["w"].tolist()
    ):
        adj.setdefault(a, []).append((b, w))
        adj.setdefault(b, []).append((a, w))
    best: dict[int, int] = {0: -1}
    heap = [(-1, 0)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > best.get(u, _INF):
            continue
        for vtx, w in adj.get(u, ()):
            nd = d if d > w else w
            if nd < best.get(vtx, _INF):
                best[vtx] = nd
                heapq.heappush(heap, (nd, vtx))
    guard.note("fill_depressions", nodes=len(adj))
    unreached = set(adj) - set(best)
    if unreached:
        raise AssertionError(
            f"fill_depressions: {len(unreached)} watersheds unreachable from the ocean"
        )
    raises = tiles.sparkSession.createDataFrame(
        [(nid, rz) for nid, rz in best.items() if nid != 0], "id long, rz long"
    )
    raise_rows = raises.select(
        F.expr(f"id div {_LABMOD} div {_LABMOD}").alias("sx"),
        (F.expr(f"id div {_LABMOD}") % _LABMOD).alias("sy"),
        F.col("id").alias("gx0"),
        F.lit(0).cast("long").alias("gy0"),
        F.lit(3).alias("axis"),
        F.lit(None).cast("binary").alias("data"),
        F.col("rz").alias("w"),
    )

    def solve_b(pdf: pd.DataFrame) -> pd.DataFrame:
        pix_cols = ["gx", "gy", "elev", "filled"]
        if emit == "pixels":
            empty = pd.DataFrame({c: pd.Series(dtype="int64") for c in pix_cols})
        else:
            empty = pd.DataFrame(
                {"x": pd.Series(dtype="int64"), "y": pd.Series(dtype="int64"),
                 "bytes": pd.Series(dtype="object"), "fmt": pd.Series(dtype="object")}
            )
        got = _assemble(pdf, G, band)
        if got is None:
            return empty
        padded, _, raw, _, ox, oy = got
        v = padded[1:-1, 1:-1]
        z, lab, _edges = _flood(v)
        base = ((ox // G) * _LABMOD + (oy // G)) * _LABMOD
        raise_arr = np.full(4 * G + 2, _INF, dtype=np.int64)
        for node, rz in raw:
            raise_arr[node - base] = rz
        rlab = raise_arr[lab]
        if (rlab >= _INF).any():
            raise AssertionError("watershed without a resolved spill level")
        filled = np.maximum(z, rlab)
        if emit == "pixels":
            rr, cc = np.meshgrid(np.arange(G), np.arange(G), indexing="ij")
            return pd.DataFrame(
                {"gx": (cc + ox).ravel(), "gy": (rr + oy).ravel(),
                 "elev": v.ravel(), "filled": filled.ravel()}
            )
        from ..codecs import encode_png

        if filled.max() > 255:
            raise ValueError("filled surface exceeds uint8")
        rows = []
        for tr in range(S):
            for tc in range(S):
                sub = filled[tr * ts : (tr + 1) * ts, tc * ts : (tc + 1) * ts]
                rows.append(
                    (ox // ts + tc, oy // ts + tr,
                     encode_png(sub.astype(np.uint8)[:, :, None]), "png")
                )
        return pd.DataFrame(rows, columns=["x", "y", "bytes", "fmt"])

    schema = (
        "gx long, gy long, elev long, filled long"
        if emit == "pixels"
        else "x long, y long, bytes binary, fmt string"
    )
    return (
        relation.unionByName(raise_rows)
        .groupBy("sx", "sy")
        .applyInPandas(lambda pdf: solve_b(pdf), schema=schema)
    )


def floor_log2_ratio_sql(p: str, q: str, div: str = "div") -> str:
    """Exact ``floor(log2(p / q))`` for positive-integer SQL expressions,
    float-free on BOTH engines (Spark `div`, DuckDB `//`): minimal binary
    string length is the integer log.  For p >= q,
    floor(log2(p/q)) == floor(log2(p div q)) == length(bin(p div q)) - 1;
    for p < q the reciprocal identity
    floor(log2(p/q)) == -(floor(log2((q-1) div p)) + 1) == -length(bin(...))
    holds because q/p in (2^(m-1), 2^m]  <=>  (q-1) div p in [2^(m-1), 2^m-1].
    Every interpolation site is parenthesized (CLAUDE.md oracle-macro
    lesson).  Requires p >= 1 and q >= 1; result CAST to BIGINT so Spark's
    INT length() and DuckDB's BIGINT length() hash identically."""
    return (
        f"CAST(CASE WHEN ({p}) >= ({q}) "
        f"THEN length(bin(({p}) {div} ({q}))) - 1 "
        f"ELSE -length(bin((({q}) - 1) {div} ({p}))) END AS BIGINT)"
    )


def wetness_index(
    tiles: DataFrame,
    tile_size: int = 256,
    super_tiles: int = 1,
    payload: str = "bytes",
    band: int = 0,
) -> DataFrame:
    """(gx, gy, acc, score, twi_q, spi_q) — quantized Topographic Wetness
    Index (Beven & Kirkby 1979, TOPMODEL; SAGA/GRASS r.topidx analog) and
    Stream Power Index surfaces over a tiled DEM.  No such analysis
    exists in the reference (its raster ops are per-tile pixel transforms).

    TWI = ln(a / tan b) and SPI = ln(a * tan b) with a = upstream
    contributing cells (D8 flow accumulation) and tan^2 b = score / 2
    (the steepest distance-corrected descent score terrain_fields
    computes: mult*drop^2, mult 2 cardinal / 1 diagonal — exactly
    2*tan^2 in elevation-units-per-cell for BOTH neighbor classes).
    Rather than evaluate ln() in float (libm last-ulp drift breaks the
    cross-engine hash), both indices are published as the exact integer
    quantization onto the log2 lattice:

        twi_q = floor(log2(a^2 / tan^2 b)) = floor(log2(2*acc^2 / score))
        spi_q = floor(log2(a^2 * tan^2 b)) = floor(log2(acc^2 * score / 2))

    which is the monotone transform floor(2/ln2 * TWI) — same ordering,
    same wet/dry classification power, bit-identical on both engines via
    floor_log2_ratio_sql.  Flat cells (score = 0, tan b = 0) take the
    documented sentinels twi_q = 9999 (infinitely wet: no outflow
    gradient) and spi_q = -9999 (zero stream power).

    Distributed shape (100 TB): ONE fused decode pass per input
    (focal_terrain_pixels emits the score beside d8 at zero extra cost;
    flow_accumulation runs its two-phase Barnes solve), then one slim
    long-only equi-join on (gx, gy) — both sides are already
    super-tile-partitioned pixel relations, payload never re-enters.
    Index math is pure JVM (bin/length/div), no Python.  int64 bound:
    2*acc^2 needs acc < 2^31 cells upstream (a ~2,000 km^2 basin at 30 m
    cells); past the bound both indices publish NULL (a visible signal,
    never a silent int64 wrap) — pre-scale acc before squaring if a
    basin that large ever matters (1-bit quantizer error)."""
    from .focal import focal_terrain_pixels

    pixels = focal_terrain_pixels(tiles, tile_size, payload, band, extra=("score",))
    acc = flow_accumulation(
        tiles, tile_size=tile_size, super_tiles=super_tiles,
        payload=payload, band=band,
    )
    j = acc.join(pixels.select("gx", "gy", "score"), on=["gx", "gy"])
    twi = floor_log2_ratio_sql("2 * acc * acc", "score")
    spi = floor_log2_ratio_sql("acc * acc * score", "2")
    return j.select(
        "gx", "gy", "acc", "score",
        F.expr(
            f"CASE WHEN score <= 0 THEN CAST(9999 AS BIGINT) "
            f"WHEN acc >= 2147483648 THEN CAST(NULL AS BIGINT) "
            f"ELSE {twi} END"
        ).alias("twi_q"),
        F.expr(
            f"CASE WHEN score <= 0 THEN CAST(-9999 AS BIGINT) "
            f"WHEN acc >= 2147483648 THEN CAST(NULL AS BIGINT) "
            f"ELSE {spi} END"
        ).alias("spi_q"),
    )
