"""Point-in-polygon joins: rectangles, an in-task probe, cell partitions.

The reference's nearest analog is its polygon machinery (TileOutline union,
/root/reference/versatiles_geometry/src/tile_outline/mod.rs:60-66 and the
geometry types versatiles_geometry/src/geo/geometry.rs:25); the PIP join
itself is target behavior from BASELINE.json's north rule.

Three physical strategies (SURVEY.md §2.4):

1. **Rectangles**: a broadcast nested-loop range join (pure SQL,
   oracle-checkable).
2. **Probe** (small polygon layer, `polygon_probe`): the layer is packed
   into numpy arrays closed over by a `pdf -> pdf` kernel, which a fused
   Python stage (the flagship's scan + encode task) runs on its own batches
   with a vectorized numpy ray-casting test — no join, no extra stage.
3. **Cell-partitioned** (large or DataFrame layer): cover each polygon with
   tiles at a cell zoom, explode; assign each point its cell; equi-join on
   the cell (shuffle hash join, prunable, salt-friendly) then exact
   ray-cast test.

Edge rule: points exactly on a polygon edge use the half-open crossing-number
convention (a point on a 'lower' edge is inside) — deterministic and
documented; the rectangle path uses [min, max) half-open edges to match.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import tile_math as tm


def pip_join_rects(points: DataFrame, rects: DataFrame, how: str = "inner") -> DataFrame:
    """Broadcast range join of points (lon, lat) against rectangles
    (lon_min, lon_max, lat_min, lat_max), half-open on the max edge."""
    cond = (
        (points["lon"] >= rects["lon_min"])
        & (points["lon"] < rects["lon_max"])
        & (points["lat"] >= rects["lat_min"])
        & (points["lat"] < rects["lat_max"])
    )
    return points.join(F.broadcast(rects), cond, how)


# ---------------------------------------------------------------------------
# vectorized ray casting (crossing number) — the exact test
# ---------------------------------------------------------------------------


def points_in_polygon(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Crossing-number test of N points against one ring (M, 2), vectorized
    over points x edges. Even-odd rule => holes handled by XOR over rings."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    px = px[:, None]
    py = py[:, None]
    crosses = ((y0 > py) != (y1 > py)) & (
        px < (x1 - x0) * (py - y0) / np.where(y1 == y0, np.inf, y1 - y0) + x0
    )
    return crosses.sum(axis=1) % 2 == 1


def points_in_polygon_multi(px, py, rings: list[np.ndarray]) -> np.ndarray:
    """Even-odd over multiple rings (outer + holes)."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        inside ^= points_in_polygon(px, py, ring)
    return inside


def to_rings(value) -> list[np.ndarray]:
    """Deep-convert an Arrow array<array<array<double>>> cell (nested object
    ndarrays, possibly ragged across rings) to a list of (N,2) float arrays."""
    return [np.array([list(p) for p in ring], dtype=np.float64) for ring in value]


def _rings_bbox(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    allpts = np.vstack(rings)
    return (
        float(allpts[:, 0].min()),
        float(allpts[:, 1].min()),
        float(allpts[:, 0].max()),
        float(allpts[:, 1].max()),
    )


def polygon_probe(
    polys_pdf,
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "poly_id",
    rings_col: str = "rings",
):
    """PIP test against a small polygon layer as a `pdf -> pdf` kernel, to
    run inside a fused Python stage: no join, no extra Python node.

    The kernel emits one row per (point, containing polygon), the input
    columns plus `poly_id`; a batch without hits gives a zero-row frame that
    still has the column. Candidates come from each polygon's bbox (points
    sorted by lon once per batch, so a polygon costs two binary searches
    before any ray is cast). The bbox is an exact superset under the
    half-open crossing rule: a point outside it crosses no edge, or every
    edge of a closed ring an even number of times.

    The closure holds only packed numpy arrays (vertices, ring and polygon
    offsets, bboxes, ids copied out of the frame), so pickling it ships no
    pandas block and no nested lists of the layer.
    """
    layer = [to_rings(v) for v in polys_pdf[rings_col]]
    flat = [r for rs in layer for r in rs]
    verts = np.concatenate(flat) if flat else np.empty((0, 2))
    ring_off = np.cumsum([0] + [len(r) for r in flat])
    poly_off = np.cumsum([0] + [len(rs) for rs in layer])
    bbox = np.array([_rings_bbox(rs) for rs in layer], dtype=np.float64).reshape(-1, 4)
    ids = np.array([str(v) for v in polys_pdf[poly_id]], dtype=str)

    def probe(pdf):
        px = pdf[lon].to_numpy(np.float64)
        py = pdf[lat].to_numpy(np.float64)
        order = np.argsort(px, kind="stable")
        lo = np.searchsorted(px[order], bbox[:, 0], "left")
        hi = np.searchsorted(px[order], bbox[:, 2], "right")
        hit_rows, hit_polys = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
        for p in np.nonzero(hi > lo)[0]:
            idx = order[lo[p]:hi[p]]
            idx = idx[(py[idx] >= bbox[p, 1]) & (py[idx] <= bbox[p, 3])]
            if idx.size == 0:
                continue
            rings = [verts[ring_off[r]:ring_off[r + 1]] for r in range(poly_off[p], poly_off[p + 1])]
            hit = idx[points_in_polygon_multi(px[idx], py[idx], rings)]
            hit_rows.append(hit)
            hit_polys.append(np.full(hit.size, p))
        pids = ids[np.concatenate(hit_polys)].astype(object)
        return pdf.iloc[np.concatenate(hit_rows)].assign(**{poly_id: pids})

    return probe


def polygon_cover_cells(rings: list[np.ndarray], cell_zoom: int) -> list[tuple[int, int]]:
    """Tiles at `cell_zoom` covering the polygon's bbox — the cell index used
    to co-partition the large-layer join (coarse cover; exact test follows)."""
    x0, y0, x1, y1 = _rings_bbox(rings)
    tx0, ty0, tx1, ty1 = tm.geo_bbox_to_tile_bbox(cell_zoom, x0, y0, x1, y1)
    return [(cx, cy) for cx in range(tx0, tx1 + 1) for cy in range(ty0, ty1 + 1)]


def pip_join_polygons_partitioned(
    points: DataFrame,
    polygons_df: DataFrame,
    cell_zoom: int = 6,
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "poly_id",
    rings_col: str = "rings",
) -> DataFrame:
    """Cell-partitioned PIP for polygon layers too large to broadcast.

    polygons_df carries rings as array<array<array<double>>> (rings ->
    points -> [lon, lat]). Plan: explode polygon cover cells; compute each
    point's cell with JVM expressions; shuffle equi-join on (cx, cy); exact
    ray-cast per matched pair in an Arrow-batched kernel. Skewed cells can be
    salted upstream (sinks/skew utilities) and AQE skew-join covers the rest.
    """
    import pandas as pd

    from ..udfs import tile_x_expr, tile_y_expr

    # polygon side: cover cells via a vectorized kernel over ring bboxes
    def cover(batches):
        for pdf in batches:
            rows = []
            for _, r in pdf.iterrows():
                rings = to_rings(r[rings_col])
                for cx, cy in polygon_cover_cells(rings, cell_zoom):
                    rows.append((r[poly_id], cx, cy, r[rings_col]))
            yield pd.DataFrame(rows, columns=[poly_id, "cx", "cy", rings_col])

    poly_cells = polygons_df.mapInPandas(
        cover, schema=f"{poly_id} string, cx long, cy long, {rings_col} array<array<array<double>>>"
    )

    pts = points.withColumn("cx", tile_x_expr(F.col(lon), F.lit(cell_zoom))).withColumn(
        "cy", tile_y_expr(F.col(lat), F.lit(cell_zoom))
    )
    cand = pts.join(poly_cells, on=["cx", "cy"])

    from ..udfs import schema_with

    out_fields = [f for f in points.schema.fields]
    schema = schema_with(points.schema, (poly_id, "string"))

    def exact(batches):
        point_cols = [f.name for f in out_fields]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            px = pdf[lon].to_numpy(np.float64)
            py = pdf[lat].to_numpy(np.float64)
            keep = np.zeros(len(pdf), dtype=bool)
            # group rows by polygon to vectorize over points
            for pid, grp in pdf.groupby(poly_id, sort=False):
                rings = to_rings(grp[rings_col].iloc[0])
                gi = grp.index.to_numpy()
                pos = pdf.index.get_indexer(gi)
                keep[pos] = points_in_polygon_multi(px[pos], py[pos], rings)
            sub = pdf.loc[keep, point_cols + [poly_id]]
            if len(sub):
                yield sub

    return cand.mapInPandas(exact, schema=schema)
