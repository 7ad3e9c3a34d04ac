"""Unit tests for the focal/neighborhood operators (operators/focal.py)
on tiny hand-computed grids — edge shrink, nodata holes, majority
tie-breaks, and the pyramid cascade's exactness."""

from __future__ import annotations

from pyspark.sql import functions as F

from cube_builder_spark.operators.focal import (
    focal_box_stats, focal_majority, pyramid_levels)
from cube_builder_spark.tables import local_df


def _cells(spark, rows, cols=("tile_id", "y", "x", "v")):
    return local_df(spark, rows, ", ".join(f"{c} long" for c in cols))


def test_focal_mean_full_grid_center_and_corner(spark):
    # 3x3 dense grid, v = y*3 + x  (0..8)
    rows = [(0, y, x, y * 3 + x) for y in range(3) for x in range(3)]
    out = {(r.y, r.x): r for r in
           focal_box_stats(_cells(spark, rows), radius=1,
                           height=3, width=3).collect()}
    c = out[(1, 1)]                       # center sees all 9
    assert (c.n_nbrs, c.sum_nbrs) == (9, sum(range(9)))
    assert c.focal_mean == 4.0
    k = out[(0, 0)]                       # corner sees 4 (edge shrink)
    assert (k.n_nbrs, k.sum_nbrs, k.min_nbrs, k.max_nbrs) == (4, 0 + 1 + 3 + 4, 0, 4)
    e = out[(0, 1)]                       # edge sees 6
    assert e.n_nbrs == 6


def test_focal_mean_hole_shrinks_kernel_and_is_not_a_center(spark):
    # 3x3 grid with the center cell MISSING (nodata hole)
    rows = [(0, y, x, 10) for y in range(3) for x in range(3)
            if (y, x) != (1, 1)]
    out = {(r.y, r.x): r for r in
           focal_box_stats(_cells(spark, rows), radius=1,
                           height=3, width=3).collect()}
    assert (1, 1) not in out              # only existing cells are centers
    assert out[(0, 0)].n_nbrs == 3        # corner lost its diagonal nbr
    assert out[(0, 1)].n_nbrs == 5        # edge lost the center
    assert all(r.focal_mean == 10.0 for r in out.values())


def test_focal_mean_tiles_do_not_leak(spark):
    rows = [(t, 0, 0, 100 + t) for t in range(2)]
    out = focal_box_stats(_cells(spark, rows), radius=1).collect()
    assert sorted((r.tile_id, r.n_nbrs, r.sum_nbrs) for r in out) == \
        [(0, 1, 100), (1, 1, 101)]


def test_focal_majority_counts_and_tiebreak(spark):
    # Row of 3 cells, classes [2, 1, 1]: center majority = 1 (count 2);
    # left cell sees {2, 1} -> tie at 1 each -> SMALLER class wins (1).
    rows = [(0, 0, 0, 2), (0, 0, 1, 1), (0, 0, 2, 1)]
    out = {r.x: r for r in
           focal_majority(_cells(spark, rows, ("tile_id", "y", "x", "c")),
                          n_classes=4, radius=1, height=1, width=3).collect()}
    assert (out[1].maj_class, out[1].maj_count, out[1].n_nbrs) == (1, 2, 3)
    assert (out[0].maj_class, out[0].maj_count, out[0].n_nbrs) == (1, 1, 2)
    assert (out[2].maj_class, out[2].maj_count, out[2].n_nbrs) == (1, 2, 2)


def test_focal_majority_isolated_pixel_takes_neighborhood(spark):
    # Classic sieve case: one class-3 pixel surrounded by class-1.
    rows = [(0, y, x, 3 if (y, x) == (1, 1) else 1)
            for y in range(3) for x in range(3)]
    out = {(r.y, r.x): r for r in
           focal_majority(_cells(spark, rows, ("tile_id", "y", "x", "c")),
                          n_classes=4, radius=1, height=3, width=3).collect()}
    assert out[(1, 1)].maj_class == 1     # the speckle is voted out
    assert out[(1, 1)].maj_count == 8


def test_pyramid_cascade_exact(spark):
    # One tile, 4x4 grid, v = 1 everywhere except (0,0)=5.
    rows = [(0, y, x, 5 if (y, x) == (0, 0) else 1)
            for y in range(4) for x in range(4)]
    out = pyramid_levels(_cells(spark, rows), n_levels=2).collect()
    l1 = {(r.cell_y, r.cell_x): r for r in out if r.level == 1}
    l2 = {(r.cell_y, r.cell_x): r for r in out if r.level == 2}
    assert len(l1) == 4 and len(l2) == 1
    assert (l1[(0, 0)].n_pixels, l1[(0, 0)].sum_value) == (4, 8)
    assert l1[(0, 0)].mean_value == 2.0
    assert (l1[(1, 1)].n_pixels, l1[(1, 1)].sum_value) == (4, 4)
    assert (l2[(0, 0)].n_pixels, l2[(0, 0)].sum_value) == (16, 20)
    assert l2[(0, 0)].mean_value == 1.25


def test_pyramid_ragged_extent(spark):
    # 3x1 strip: level-1 cells get ragged pixel counts (2 and 1), and
    # level 2 aggregates the exact (n, sum) pairs, not re-scans.
    rows = [(0, y, 0, y + 1) for y in range(3)]
    out = pyramid_levels(_cells(spark, rows), n_levels=2).collect()
    l1 = {r.cell_y: r for r in out if r.level == 1}
    assert (l1[0].n_pixels, l1[0].sum_value) == (2, 3)
    assert (l1[1].n_pixels, l1[1].sum_value) == (1, 3)
    l2 = [r for r in out if r.level == 2]
    assert len(l2) == 1 and l2[0].n_pixels == 3 and l2[0].sum_value == 6


def test_focal_plan_is_hash_aggregate_no_cartesian(spark):
    rows = [(0, y, x, y + x) for y in range(3) for x in range(3)]
    df = focal_box_stats(_cells(spark, rows), radius=1, height=3, width=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan        # scatter reduce is map-side combinable
    assert "SortAggregate" not in plan


def test_focal_gradients_ramp_and_flat(spark):
    from cube_builder_spark.operators.focal import focal_gradients
    # 4x4: v = 10*x (pure x-ramp) -> gx = 8*10 = 80, gy = 0; only the
    # four interior cells have complete neighborhoods
    rows = [(0, y, x, 10 * x) for y in range(4) for x in range(4)]
    out = {(r.y, r.x): r for r in focal_gradients(
        _cells(spark, rows),
        height=4, width=4).collect()}
    assert set(out) == {(1, 1), (1, 2), (2, 1), (2, 2)}
    for r in out.values():
        assert (r.gx, r.gy) == (80, 0)
        assert r.slope_sq == 80 * 80 / 64
    # flat plane -> zero gradient
    flat = [(0, y, x, 7) for y in range(3) for x in range(3)]
    out2 = focal_gradients(
        _cells(spark, flat),
        height=3, width=3).collect()
    assert len(out2) == 1 and (out2[0].gx, out2[0].gy) == (0, 0)
    # a nodata hole suppresses every cell whose kernel touches it
    holed = [(0, y, x, 1) for y in range(4) for x in range(4)
             if (y, x) != (1, 1)]
    out3 = focal_gradients(
        _cells(spark, holed),
        height=4, width=4).collect()
    assert {(r.y, r.x) for r in out3} == set()


def test_focal_median_despeckle_and_even_count(spark):
    from cube_builder_spark.operators.focal import focal_median
    # salt speckle: center=1000 surrounded by 10s -> median 10
    rows = [(0, y, x, 1000 if (y, x) == (1, 1) else 10)
            for y in range(3) for x in range(3)]
    out = {(r.y, r.x): r for r in focal_median(
        _cells(spark, rows),
        height=3, width=3).collect()}
    assert (out[(1, 1)].median_v, out[(1, 1)].n_nbrs) == (10, 9)
    # corner sees [10, 10, 10, 1000] -> lower median (2nd of 4) = 10
    assert (out[(0, 0)].median_v, out[(0, 0)].n_nbrs) == (10, 4)
    # even-count lower-median rule on distinct values: [1,2,3,4] -> 2
    rows2 = [(0, 0, 0, 1), (0, 0, 1, 2), (0, 1, 0, 3), (0, 1, 1, 4)]
    out2 = {(r.y, r.x): r.median_v for r in focal_median(
        _cells(spark, rows2),
        height=2, width=2).collect()}
    assert out2 == {(0, 0): 2, (0, 1): 2, (1, 0): 2, (1, 1): 2}


# D8 flow routing (round 9) ----------------------------------------------------

def _cells_df(spark, rows):
    return local_df(spark, rows, "tile_id long, y long, x long, v long")


def test_flow_direction_ramp_and_ties(spark):
    """Hand-worked 3x3 ramp: values increase with x, so every cell
    drains due west (dir 4); the west edge cells are sinks. A diagonal
    tie case checks the cross-multiplied metric: drop 1 orthogonal
    (metric 2) beats drop 1 diagonal (metric 1)."""
    from cube_builder_spark.operators.focal import flow_direction
    rows = [(0, y, x, x * 10) for y in range(3) for x in range(3)]
    got = {(r.y, r.x): r.fdir for r in
           flow_direction(_cells_df(spark, rows), 3, 3).collect()}
    for y in range(3):
        assert got[(y, 0)] == 0            # west edge: no lower neighbor
        for x in (1, 2):
            assert got[(y, x)] == 4        # due west

    # center 5; west neighbor 4 (ortho drop 1, metric 2·1·16) vs
    # north-west 4 (diag drop 1, metric 1·1·16): ortho wins -> dir 4
    rows = [(0, 1, 1, 5), (0, 1, 0, 4), (0, 0, 0, 4)]
    got = {(r.y, r.x): r.fdir for r in
           flow_direction(_cells_df(spark, rows), 3, 3).collect()}
    assert got[(1, 1)] == 4

    # equal metric, different dirs: two diagonal drops of 1 -> the
    # SMALLER direction index wins (1 = NW beats 8 = SE)
    rows = [(0, 1, 1, 5), (0, 0, 0, 4), (0, 2, 2, 4)]
    got = {(r.y, r.x): r.fdir for r in
           flow_direction(_cells_df(spark, rows), 3, 3).collect()}
    assert got[(1, 1)] == 1


def test_flow_accumulation_funnel(spark):
    """A 1-D descending chain v=30,20,10: acc = 1, 2, 3; adding a
    second branch draining into the middle makes the outlet 4 and the
    middle 3 (both branches + itself)."""
    from cube_builder_spark.operators.focal import (flow_accumulation,
                                                    flow_direction)
    chain = [(0, 0, 0, 30), (0, 0, 1, 20), (0, 0, 2, 10)]
    dirs = flow_direction(_cells_df(spark, chain), 1, 3)
    got = {(r.y, r.x): r.acc for r in flow_accumulation(dirs).collect()}
    assert got == {(0, 0): 1, (0, 1): 2, (0, 2): 3}

    # second branch: (1,1)=25 sees (0,1)=20 due north (drop 5, metric
    # 25·2=50) and (0,2)=10 diagonal NE (drop 15, metric 225·1=225) —
    # the DIAGONAL wins despite its √2 distance, so it drains straight
    # into the outlet and (0,1) keeps acc 2
    branch = chain + [(0, 1, 1, 25)]
    dirs = flow_direction(_cells_df(spark, branch), 2, 3)
    d = {(r.y, r.x): r.fdir for r in dirs.collect()}
    assert d[(1, 1)] == 3                   # NE diagonal
    got = {(r.y, r.x): r.acc for r in flow_accumulation(dirs).collect()}
    assert got[(0, 2)] == 4 and got[(0, 1)] == 2 and got[(1, 1)] == 1


def test_flow_accumulation_all_sinks(spark):
    """A flat plane (all equal values) has no flow: every cell fdir 0,
    every acc 1, and the walker loop terminates after zero rounds."""
    from cube_builder_spark.operators.focal import (flow_accumulation,
                                                    flow_direction)
    rows = [(0, y, x, 7) for y in range(2) for x in range(2)]
    dirs = flow_direction(_cells_df(spark, rows), 2, 2)
    assert {r.fdir for r in dirs.collect()} == {0}
    assert {r.acc for r in flow_accumulation(dirs).collect()} == {1}


def test_flow_routing_matches_python_reference_random_grids(spark):
    """Differential: D8 direction + accumulation on random sparse
    grids equals a loop-form Python reference (independent
    implementation of the same spec)."""
    import random

    from cube_builder_spark.operators.focal import (D8_OFFSETS,
                                                    flow_accumulation,
                                                    flow_direction)

    rng = random.Random(23)
    for trial in range(3):
        h, w = rng.randint(3, 7), rng.randint(3, 7)
        cells = {}
        for y in range(h):
            for x in range(w):
                if rng.random() < 0.8:          # sparse holes
                    cells[(y, x)] = rng.randint(0, 20)
        if not cells:
            continue

        # reference: direction
        ref_dir = {}
        for (y, x), v in cells.items():
            best = None
            for d, dy, dx, wgt in D8_OFFSETS:
                nv = cells.get((y + dy, x + dx))
                if nv is None or nv >= v:
                    continue
                metric = (v - nv) * (v - nv) * wgt * 16 + (8 - d)
                if best is None or metric > best:
                    best = metric
            ref_dir[(y, x)] = 0 if best is None else 8 - best % 16

        # reference: accumulation (walk every cell's path)
        ref_acc = {k: 0 for k in cells}
        off = {d: (dy, dx) for d, dy, dx, _w in D8_OFFSETS}
        for start in cells:
            cur = start
            while True:
                ref_acc[cur] += 1
                d = ref_dir[cur]
                if d == 0:
                    break
                dy, dx = off[d]
                cur = (cur[0] + dy, cur[1] + dx)

        dirs = flow_direction(
            _cells_df(spark, [(0, y, x, v) for (y, x), v in cells.items()]),
            h, w)
        got_dir = {(r.y, r.x): r.fdir for r in dirs.collect()}
        assert got_dir == ref_dir, (trial, h, w)
        got_acc = {(r.y, r.x): r.acc
                   for r in flow_accumulation(dirs).collect()}
        assert got_acc == ref_acc, (trial, h, w)


def test_region_metrics_hand_worked(spark):
    """2x2 square region: area 4, perimeter 8, shape_index 16;
    isolated single cell: area 1, perimeter 4, shape_index 16;
    L-shaped tromino: area 3, perimeter 8, shape_index 64/3."""
    from cube_builder_spark.cube_queries import _GRID_H, _GRID_W
    from cube_builder_spark.operators.focal import _scatter
    from cube_builder_spark.operators.regions import label_regions
    from pyspark.sql import functions as F

    # square at (0..1, 0..1); lone cell at (5,5); L at (3,3),(4,3),(4,4)
    pts = [(0, 0), (0, 1), (1, 0), (1, 1), (5, 5), (3, 3), (4, 3), (4, 4)]
    mask = local_df(spark, [(0, y, x) for y, x in pts],
                    "tile_id long, y long, x long")
    labels = label_regions(mask, height=_GRID_H, width=_GRID_W)
    sc = _scatter(mask.withColumn("v", F.lit(1)), 1, _GRID_H, _GRID_W, ["v"])
    ortho = sc.filter((F.abs(F.col("o_dy")) + F.abs(F.col("o_dx"))) == 1)
    deg = ortho.groupBy("t_id", "ty", "tx").agg(F.count(F.lit(1)).alias("d4"))
    cells = (labels.join(deg, (F.col("tile_id") == F.col("t_id"))
                         & (F.col("y") == F.col("ty"))
                         & (F.col("x") == F.col("tx")), "left")
             .select("region_id",
                     F.coalesce(F.col("d4"), F.lit(0)).alias("d4")))
    per_region = {r.region_id: (r.area, r.perimeter) for r in
                  cells.groupBy("region_id")
                  .agg(F.count(F.lit(1)).alias("area"),
                       F.sum(4 - F.col("d4")).alias("perimeter"))
                  .collect()}
    stats = sorted(per_region.values())
    assert stats == [(1, 4), (3, 8), (4, 8)]


def test_min_distance_transform_vs_bruteforce(spark):
    # 8x8 grid, sources scattered deterministically; differential vs a
    # python brute force INSIDE the radius, sentinel outside it.
    from cube_builder_spark.operators.focal import min_distance_transform
    H = W = 8
    src = {(0, 0), (3, 5), (7, 2)}
    rows = [(0, y, x, (y, x) in src) for y in range(H) for x in range(W)]
    out = {(r.y, r.x): r.dist2 for r in min_distance_transform(
        local_df(spark, rows, "tile_id long, y long, x long, src boolean"),
        radius=2, height=H, width=W).collect()}
    assert len(out) == H * W
    for y in range(H):
        for x in range(W):
            best = min((abs(y - sy) ** 2 + abs(x - sx) ** 2
                        for sy, sx in src
                        if abs(y - sy) <= 2 and abs(x - sx) <= 2),
                       default=None)
            assert out[(y, x)] == (25 if best is None else best), (y, x)
    for sy, sx in src:
        assert out[(sy, sx)] == 0


def test_min_distance_transform_tiles_do_not_leak(spark):
    # A source in tile 0 must not shade tile 1's cells.
    from cube_builder_spark.operators.focal import min_distance_transform
    rows = [(0, 0, 0, True), (1, 0, 1, False)]
    out = {(r.tile_id, r.y, r.x): r.dist2 for r in min_distance_transform(
        local_df(spark, rows, "tile_id long, y long, x long, src boolean"),
        radius=3).collect()}
    assert out[(0, 0, 0)] == 0
    assert out[(1, 0, 1)] == 49          # sentinel: no source in ITS tile


def test_min_distance_transform_keeps_passenger_columns(spark):
    from cube_builder_spark.operators.focal import min_distance_transform
    rows = [(0, 0, 0, True, 7), (0, 0, 1, False, 9)]
    out = min_distance_transform(
        local_df(spark, rows,
                 "tile_id long, y long, x long, src boolean, c long"),
        radius=1, sentinel=99)
    got = {(r.y, r.x): (r.c, r.dist2) for r in out.collect()}
    assert got == {(0, 0): (7, 0), (0, 1): (9, 1)}
    assert "src" not in out.columns
