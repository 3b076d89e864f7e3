"""Region Group — connected-component labeling of equal-value zones
(operators/regions.py).  Ground truth: python BFS flood fill over the
dense grid, 4-connectivity, label = min packed cell id."""
from collections import deque

import numpy as np
import pandas as pd

from versatiles_rs_spark.functions.graph import _driver_union_find
from versatiles_rs_spark.operators.regions import region_group, region_segments


def flood_fill(grid: np.ndarray):
    """grid[gy][gx] -> dict region_label -> (v, n_cells, bbox)."""
    n_y, n_x = grid.shape
    seen = np.zeros_like(grid, dtype=bool)
    out = {}
    for y in range(n_y):
        for x in range(n_x):
            if seen[y, x]:
                continue
            v = grid[y, x]
            cells = []
            dq = deque([(y, x)])
            seen[y, x] = True
            while dq:
                cy, cx = dq.popleft()
                cells.append((cy, cx))
                for dy, dx in ((0, 1), (0, -1), (1, 0), (-1, 0)):
                    ny, nx = cy + dy, cx + dx
                    if 0 <= ny < n_y and 0 <= nx < n_x and not seen[ny, nx] \
                            and grid[ny, nx] == v:
                        seen[ny, nx] = True
                        dq.append((ny, nx))
            label = min(cy * n_x + cx for cy, cx in cells)
            ys = [c[0] for c in cells]
            xs = [c[1] for c in cells]
            out[label] = (int(v), len(cells), min(xs), min(ys), max(xs), max(ys))
    return out


def grid_df(spark, grid):
    n_y, n_x = grid.shape
    rows = [
        (int(x), int(y), int(grid[y, x])) for y in range(n_y) for x in range(n_x)
    ]
    return spark.createDataFrame(rows, "gx long, gy long, v long")


def collect_regions(df):
    return {
        r["region"]: (
            r["v"], r["n_cells"], r["min_gx"], r["min_gy"], r["max_gx"], r["max_gy"]
        )
        for r in df.collect()
    }


def test_region_group_matches_flood_fill(spark):
    rng = np.random.default_rng(17)
    grid = rng.integers(0, 3, size=(24, 24))
    got = collect_regions(region_group(grid_df(spark, grid), 24))
    assert got == flood_fill(grid)


def test_region_group_snake_and_uniform(spark):
    # uniform grid: one region covering everything
    grid = np.zeros((8, 8), dtype=np.int64)
    got = collect_regions(region_group(grid_df(spark, grid), 8))
    assert got == {0: (0, 64, 0, 0, 7, 7)}
    # diagonal stripes: 4-connectivity must NOT join diagonals
    grid = (np.add.outer(np.arange(6), np.arange(6)) % 2).astype(np.int64)
    got = collect_regions(region_group(grid_df(spark, grid), 6))
    assert got == flood_fill(grid)
    # serpentine corridor exercises multi-row merges through one value
    grid = np.ones((10, 10), dtype=np.int64)
    grid[1, :9] = 0
    grid[3, 1:] = 0
    grid[5, :9] = 0
    grid[1:4, 8] = 0
    grid[3:6, 0] = 0
    got = collect_regions(region_group(grid_df(spark, grid), 10))
    assert got == flood_fill(grid)


def test_region_group_distributed_cc_fallback(spark, force_distributed):
    """Past connected_components' guard the large/small-star rounds run:
    labels must be identical to the driver union-find path."""
    rng = np.random.default_rng(23)
    grid = rng.integers(0, 2, size=(12, 12))
    fast = collect_regions(region_group(grid_df(spark, grid), 12))
    with force_distributed() as refused:
        slow = collect_regions(region_group(grid_df(spark, grid), 12))
    assert refused == ["connected_components"]
    assert fast == slow == flood_fill(grid)


def test_driver_union_find_min_roots():
    got = _driver_union_find(pd.DataFrame({"u": [5, 9, 7], "v": [9, 2, 8]}))
    roots = dict(zip(got["id"].tolist(), got["component"].tolist()))
    assert roots[5] == roots[9] == roots[2] == 2
    assert roots[7] == roots[8] == 7


def test_region_segments_runs(spark):
    grid = np.array([[1, 1, 2, 2, 2, 1]], dtype=np.int64)
    segs = {
        r["seg_id"]: (r["x0"], r["x1"], r["v"], r["len"])
        for r in region_segments(grid_df(spark, grid), 6).collect()
    }
    assert segs == {0: (0, 1, 1, 2), 2: (2, 4, 2, 3), 5: (5, 5, 1, 1)}


def test_region_group_plan_stays_jvm(spark):
    grid = np.zeros((8, 8), dtype=np.int64)
    plan = (
        region_group(grid_df(spark, grid), 8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# sieve_small_regions (gdal_sieve, simultaneous-pass variant)
# ---------------------------------------------------------------------------

def brute_sieve(grid, min_cells):
    """Documented engine semantics: every region < min_cells merges into
    its largest neighbor of size >= min_cells (ties -> min label); small
    regions with no surviving neighbor keep their label."""
    regions = flood_fill(grid)  # label -> (v, n, bbox)
    n_y, n_x = grid.shape
    # per-cell labels via a second BFS pass
    import numpy as np
    lab = np.full(grid.shape, -1, dtype=np.int64)
    from collections import deque
    seen = np.zeros_like(grid, dtype=bool)
    for y in range(n_y):
        for x in range(n_x):
            if seen[y, x]:
                continue
            v = grid[y, x]
            cells = []
            dq = deque([(y, x)]); seen[y, x] = True
            while dq:
                cy, cx = dq.popleft(); cells.append((cy, cx))
                for dy, dx in ((0, 1), (0, -1), (1, 0), (-1, 0)):
                    ny, nx = cy + dy, cx + dx
                    if 0 <= ny < n_y and 0 <= nx < n_x and not seen[ny, nx] \
                            and grid[ny, nx] == v:
                        seen[ny, nx] = True; dq.append((ny, nx))
            label = min(cy * n_x + cx for cy, cx in cells)
            for cy, cx in cells:
                lab[cy, cx] = label
    sizes = {r: info[1] for r, info in regions.items()}
    vals = {r: info[0] for r, info in regions.items()}
    # adjacency
    adj = {}
    for y in range(n_y):
        for x in range(n_x):
            for dy, dx in ((0, 1), (1, 0)):
                ny, nx = y + dy, x + dx
                if ny < n_y and nx < n_x and lab[ny, nx] != lab[y, x]:
                    adj.setdefault(lab[y, x], set()).add(lab[ny, nx])
                    adj.setdefault(lab[ny, nx], set()).add(lab[y, x])
    out = {}
    move = {}
    for r, n in sizes.items():
        if n < min_cells:
            cands = [c for c in adj.get(r, ()) if sizes[c] >= min_cells]
            if cands:
                move[r] = max(cands, key=lambda c: (sizes[c], -c))
    for r, n in sizes.items():
        tgt = move.get(r, r)
        out[tgt] = out.get(tgt, 0) + n
    return {r: (vals[r], n) for r, n in out.items()}


def test_sieve_matches_bruteforce(spark):
    from versatiles_rs_spark.operators.regions import sieve_small_regions

    rng = np.random.default_rng(29)
    grid = rng.integers(0, 2, size=(20, 20))
    got = {
        r["region"]: (r["v"], r["n_cells"])
        for r in sieve_small_regions(grid_df(spark, grid), 20, min_cells=6).collect()
    }
    assert got == brute_sieve(grid, 6)


def test_sieve_cases(spark):
    from versatiles_rs_spark.operators.regions import sieve_small_regions

    # big field of 0 with two small islands: a 2-cell and a 1-cell
    grid = np.zeros((8, 8), dtype=np.int64)
    grid[2, 2] = grid[2, 3] = 1
    grid[5, 5] = 2
    got = {
        r["region"]: (r["v"], r["n_cells"])
        for r in sieve_small_regions(grid_df(spark, grid), 8, min_cells=3).collect()
    }
    assert got == {0: (0, 64)}
    # stranded small region: 2x2 checkerboard-ish world where nothing survives
    grid = np.array([[0, 1], [1, 0]], dtype=np.int64)
    got = {
        r["region"]: (r["v"], r["n_cells"])
        for r in sieve_small_regions(grid_df(spark, grid), 2, min_cells=5).collect()
    }
    # all four regions are small and no neighbor survives: everything kept
    assert got == {0: (0, 1), 1: (1, 1), 2: (1, 1), 3: (0, 1)}
