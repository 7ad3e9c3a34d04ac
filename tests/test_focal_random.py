"""Seeded randomized differential tests for the round-8 neighborhood
operators: many random cases ride ONE Spark action each (one tile per
case), verified against pure-Python brute-force oracles."""

from __future__ import annotations

import random

from cube_builder_spark.operators.focal import focal_box_stats, focal_majority
from cube_builder_spark.operators.regions import label_regions
from cube_builder_spark.relational import points_in_polygons
from cube_builder_spark.tables import local_df

H, W = 10, 12


def _random_masks(seed, n_tiles, density=None):
    rnd = random.Random(seed)
    rows = []
    for t in range(n_tiles):
        d = density if density is not None else rnd.choice([0.15, 0.4, 0.7, 0.95])
        for y in range(H):
            for x in range(W):
                if rnd.random() < d:
                    rows.append((t, y, x))
    return rows


def test_focal_box_stats_random_vs_bruteforce(spark):
    rnd = random.Random(11)
    cells = [(t, y, x, rnd.randint(-500, 500))
             for (t, y, x) in _random_masks(7, 12)]
    have = {(r.tile_id, r.y, r.x): (r.n_nbrs, r.sum_nbrs, r.min_nbrs,
                                    r.max_nbrs, r.focal_mean)
            for r in focal_box_stats(
                local_df(spark, cells, "tile_id long, y long, x long, v long"),
                radius=1, height=H, width=W).collect()}
    vals = {(t, y, x): v for (t, y, x, v) in cells}
    assert set(have) == set(vals)
    for (t, y, x) in vals:
        nb = [vals[(t, y + dy, x + dx)]
              for dy in (-1, 0, 1) for dx in (-1, 0, 1)
              if (t, y + dy, x + dx) in vals]
        assert have[(t, y, x)] == (len(nb), sum(nb), min(nb), max(nb),
                                   sum(nb) / len(nb))


def test_focal_majority_random_vs_bruteforce(spark):
    rnd = random.Random(23)
    cells = [(t, y, x, rnd.randint(0, 3)) for (t, y, x) in _random_masks(5, 12)]
    have = {(r.tile_id, r.y, r.x): (r.maj_class, r.maj_count, r.n_nbrs)
            for r in focal_majority(
                local_df(spark, cells, "tile_id long, y long, x long, c long"),
                n_classes=4, radius=1, height=H, width=W).collect()}
    vals = {(t, y, x): c for (t, y, x, c) in cells}
    assert set(have) == set(vals)
    for (t, y, x) in vals:
        nb = [vals[(t, y + dy, x + dx)]
              for dy in (-1, 0, 1) for dx in (-1, 0, 1)
              if (t, y + dy, x + dx) in vals]
        best = max(range(4), key=lambda c: (nb.count(c), -c))
        assert have[(t, y, x)] == (best, nb.count(best), len(nb))


def _py_components(coords):
    """Union-find oracle: {(t,y,x): (min_id, size)} under 4-connectivity."""
    parent = {c: c for c in coords}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    s = set(coords)
    for (t, y, x) in coords:
        for n in ((t, y, x + 1), (t, y + 1, x)):
            if n in s:
                ra, rb = find((t, y, x)), find(n)
                if ra != rb:
                    parent[rb] = ra
    groups = {}
    for c in coords:
        groups.setdefault(find(c), []).append(c)
    out = {}
    for members in groups.values():
        rid = min(m[1] * W + m[2] for m in members)
        for m in members:
            out[m] = (rid, len(members))
    return out


def test_label_regions_random_vs_unionfind(spark):
    coords = _random_masks(101, 16)
    have = {(r.tile_id, r.y, r.x): (r.region_id, r.region_size)
            for r in label_regions(
                local_df(spark, coords, "tile_id long, y long, x long"),
                height=H, width=W).collect()}
    assert have == _py_components(coords)


def test_label_regions_sparse_and_dense_extremes(spark):
    sparse = _random_masks(77, 3, density=0.08)
    dense = [(t + 3, y, x) for (t, y, x) in _random_masks(78, 3, density=1.0)]
    coords = sparse + dense
    have = {(r.tile_id, r.y, r.x): (r.region_id, r.region_size)
            for r in label_regions(
                local_df(spark, coords, "tile_id long, y long, x long"),
                height=H, width=W).collect()}
    assert have == _py_components(coords)


def _py_pip(px, py, edges):
    cross = 0
    for (x1, y1, x2, y2) in edges:
        if (y1 <= py) != (y2 <= py):
            lhs = (x2 - x1) * (py - y1)
            rhs = (px - x1) * (y2 - y1)
            if (lhs > rhs) if y2 > y1 else (lhs < rhs):
                cross += 1
    return cross % 2 == 1


def test_points_in_polygons_random_vs_python(spark):
    rnd = random.Random(31)
    polys = {}
    edge_rows = []
    for k in range(6):
        nv = rnd.randint(3, 8)
        vs = [(rnd.randint(0, 60), rnd.randint(0, 60)) for _ in range(nv)]
        polys[k] = [(vs[i][0], vs[i][1], vs[(i + 1) % nv][0], vs[(i + 1) % nv][1])
                    for i in range(nv)]
        edge_rows += [(k, *e) for e in polys[k]]
    pts = [(i, rnd.randint(-5, 65), rnd.randint(-5, 65)) for i in range(300)]
    have = {(r.pid, r.k) for r in points_in_polygons(
        local_df(spark, pts, "pid long, px long, py long"),
        local_df(spark, edge_rows, "k int, x1 int, y1 int, x2 int, y2 int"),
        id_col="pid").collect()}
    want = {(pid, k) for (pid, px, py) in pts for k in polys
            if _py_pip(px, py, polys[k])}
    assert have == want


def test_min_distance_transform_random_vs_bruteforce(spark):
    from cube_builder_spark.operators.focal import min_distance_transform
    rnd = random.Random(43)
    cells = [(t, y, x, rnd.random() < 0.12)
             for (t, y, x) in _random_masks(61, 10)]
    have = {(r.tile_id, r.y, r.x): r.dist2
            for r in min_distance_transform(
                local_df(spark, cells, "tile_id long, y long, x long, src boolean"),
                radius=3, height=H, width=W).collect()}
    vals = {(t, y, x): s for (t, y, x, s) in cells}
    assert set(have) == set(vals)
    for (t, y, x), _ in vals.items():
        best = min(((y - sy) ** 2 + (x - sx) ** 2
                    for (st, sy, sx), s in vals.items()
                    if s and st == t
                    and abs(y - sy) <= 3 and abs(x - sx) <= 3),
                   default=49)
        assert have[(t, y, x)] == best, (t, y, x)


def _py_bilinear_16(vals):
    """{(t,y,x): up_num16} for fine cells with full 4-neighbor coarse
    support, from a coarse {(t,cy,cx): cv} plane (per-axis weights
    {3,1}/4 around coarse coord (y-0.5)/2)."""
    out = {}
    tiles = {t for (t, _, _) in vals}
    cymax = max((cy for (_, cy, _) in vals), default=-1)
    cxmax = max((cx for (_, _, cx) in vals), default=-1)
    for t in tiles:
        for y in range(2 * (cymax + 2)):
            for x in range(2 * (cxmax + 2)):
                num, wsum = 0, 0
                for (o_y, wy) in ((-1, 1), (0, 3), (1, 3), (2, 1)):
                    for (o_x, wx) in ((-1, 1), (0, 3), (1, 3), (2, 1)):
                        # coarse cell (cy, cx) contributes to fine
                        # 2*cy+o, so fine y receives from cy=(y-o)/2
                        if (y - o_y) % 2 or (x - o_x) % 2:
                            continue
                        c = (t, (y - o_y) // 2, (x - o_x) // 2)
                        if c in vals:
                            num += wy * wx * vals[c]
                            wsum += wy * wx
                if wsum == 16:
                    out[(t, y, x)] = num
    return out


def test_bilinear_upsample_kernel_random_vs_python(spark):
    # Exercises the c42 scatter kernel directly: random sparse coarse
    # planes, fine values must match the python 4-neighbor fold.
    from pyspark.sql import functions as F
    rnd = random.Random(53)
    coarse = [(t, y, x, rnd.randint(-100, 100))
              for (t, y, x) in _random_masks(59, 8, density=0.6)]
    vals = {(t, cy, cx): cv for (t, cy, cx, cv) in coarse}
    cdf = local_df(spark, coarse, "tile_id long, cy long, cx long, cv long")
    offs = F.array(*[F.struct(F.lit(o).alias("o"), F.lit(w).alias("w"))
                     for o, w in [(-1, 1), (0, 3), (1, 3), (2, 1)]])
    sc = (cdf.select("tile_id", "cy", "cx", "cv",
                     F.explode(offs).alias("oy"))
          .select("tile_id", "cy", "cx", "cv", "oy",
                  F.explode(offs).alias("ox"))
          .select("tile_id",
                  (F.lit(2) * F.col("cy") + F.col("oy.o")).alias("y"),
                  (F.lit(2) * F.col("cx") + F.col("ox.o")).alias("x"),
                  (F.col("oy.w") * F.col("ox.w")).alias("w"), "cv"))
    got = {(r.tile_id, r.y, r.x): r.up_num16
           for r in (sc.groupBy("tile_id", "y", "x")
                     .agg(F.sum(F.col("w") * F.col("cv")).alias("up_num16"),
                          F.sum("w").alias("wsum"))
                     .filter(F.col("wsum") == 16)).collect()}
    assert got == _py_bilinear_16(vals)
