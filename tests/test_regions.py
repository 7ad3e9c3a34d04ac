"""Unit tests for connected-component region labeling
(operators/regions.py): hand-checked shapes, convergence on
high-diameter regions, tile isolation."""

from __future__ import annotations

from pyspark.sql import functions as F

from cube_builder_spark.operators.regions import label_regions
from cube_builder_spark.tables import local_df

H, W = 16, 32


def _run(spark, coords, height=H, width=W):
    cells = local_df(spark, coords, "tile_id long, y long, x long")
    rows = label_regions(cells, height=height, width=width).collect()
    return {(r.tile_id, r.y, r.x): (r.region_id, r.region_size) for r in rows}


def test_two_regions_and_isolated_cell(spark):
    # Region A: L-shape (0,0),(0,1),(1,1); region B: isolated (3,3).
    out = _run(spark, [(0, 0, 0), (0, 0, 1), (0, 1, 1), (0, 3, 3)])
    a = 0 * W + 0
    assert out[(0, 0, 0)] == (a, 3)
    assert out[(0, 0, 1)] == (a, 3)
    assert out[(0, 1, 1)] == (a, 3)
    assert out[(0, 3, 3)] == (3 * W + 3, 1)


def test_diagonal_is_not_connected(spark):
    # 4-connectivity: diagonal neighbors are separate regions.
    out = _run(spark, [(0, 0, 0), (0, 1, 1)])
    assert out[(0, 0, 0)][1] == 1 and out[(0, 1, 1)][1] == 1
    assert out[(0, 0, 0)][0] != out[(0, 1, 1)][0]


def test_serpentine_high_diameter_converges(spark):
    # A snake through the full grid: one region of diameter ~H*W,
    # which defeats plain per-hop min propagation at small round
    # counts — pointer jumping must carry it.
    coords = []
    for y in range(H):
        xs = range(W) if y % 2 == 0 else [W - 1 if y % 4 == 1 else 0]
        for x in xs:
            coords.append((0, y, x))
    out = _run(spark, coords)
    sizes = {v for v in out.values()}
    assert sizes == {(0, len(coords))}          # one region, min id = 0


def test_row_wrap_is_not_adjacency(spark):
    # (0, W-1) and (1, 0) are consecutive packed ids but NOT neighbors.
    out = _run(spark, [(0, 0, W - 1), (0, 1, 0)])
    assert out[(0, 0, W - 1)][1] == 1 and out[(0, 1, 0)][1] == 1


def test_tiles_do_not_merge(spark):
    # Same coordinates in two tiles stay separate regions, and the
    # bottom row of tile 0 never connects to the top row of tile 1
    # even though their packed ids are consecutive.
    out = _run(spark, [(0, H - 1, 5), (1, 0, 5)])
    assert out[(0, H - 1, 5)][1] == 1
    assert out[(1, 0, 5)][1] == 1


def test_region_id_is_tile_local_min(spark):
    out = _run(spark, [(2, 4, 7), (2, 4, 8)])
    assert out[(2, 4, 7)] == (4 * W + 7, 2)
    assert out[(2, 4, 8)] == (4 * W + 7, 2)


def test_points_in_polygons_hand_geometry(spark):
    """Hand-checked even-odd containment: unit square, concave
    chevron, boundary determinism."""
    from cube_builder_spark.relational import points_in_polygons
    # polygon 0: square (0,0)-(10,0)-(10,10)-(0,10)
    sq = [(0, 0, 0, 10, 0), (0, 10, 0, 10, 10),
          (0, 10, 10, 0, 10), (0, 0, 10, 0, 0)]
    # polygon 1: concave chevron (0,0)-(10,0)-(10,10)-(5,4)-(0,10)
    ch = [(1, 0, 0, 10, 0), (1, 10, 0, 10, 10), (1, 10, 10, 5, 4),
          (1, 5, 4, 0, 10), (1, 0, 10, 0, 0)]
    edges = local_df(spark, sq + ch, "k int, x1 int, y1 int, x2 int, y2 int")
    pts = local_df(
        spark,
        [(1, 5, 5), (2, 15, 5), (3, 5, 15), (4, -1, 5),
         (5, 5, 2),   # inside both (below the chevron notch)
         (6, 5, 8)],  # inside square, in the chevron NOTCH (outside)
        "pid long, px long, py long")
    inside = {(r.pid, r.k) for r in
              points_in_polygons(pts, edges, id_col="pid").collect()}
    assert (1, 0) in inside and (5, 0) in inside and (6, 0) in inside
    assert all((p, 0) not in inside for p in (2, 3, 4))
    assert (5, 1) in inside
    assert (6, 1) not in inside          # concavity respected
    assert (2, 1) not in inside and (3, 1) not in inside
