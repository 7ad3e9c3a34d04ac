"""Hierarchical grid generation (C18).

Reference (``cube_builder/grids.py:32-182``) generates equal-area grids
with pyproj + PostGIS. The core tiling math is pure arithmetic once the
bbox is in grid-CRS meters: tiles of ``tile_factor × shape × resolution``
meters laid out from the origin, named ``'{ix:03d}{iy:03d}'``
(grids.py:54-65). Implemented here proj-free over a meters bbox; tile
polygons are axis-aligned rectangles, so every later spatial predicate
(R9) is column arithmetic.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from .tables import local_df


def create_tiles(bbox: tuple[float, float, float, float], tile_size_m: float,
                 grid_name: str = "GRID") -> list[dict]:
    """Generate tile rows covering ``bbox`` (xmin, ymin, xmax, ymax in
    grid-CRS meters). ix grows east from xmin, iy grows south from ymax
    (reference _create_tiles, grids.py:32-77)."""
    xmin, ymin, xmax, ymax = bbox
    nx = max(1, math.ceil((xmax - xmin) / tile_size_m))
    ny = max(1, math.ceil((ymax - ymin) / tile_size_m))
    tiles = []
    for ix in range(nx):
        for iy in range(ny):
            tiles.append({
                "grid": grid_name,
                "tile_id": f"{ix:03d}{iy:03d}",
                "xmin": xmin + ix * tile_size_m,
                "xmax": xmin + (ix + 1) * tile_size_m,
                "ymax": ymax - iy * tile_size_m,
                "ymin": ymax - (iy + 1) * tile_size_m,
            })
    return tiles


def create_hierarchical_grids(bbox: tuple[float, float, float, float],
                              base_tile_size_m: float,
                              factors: list[int],
                              names: list[str]) -> dict[str, list[dict]]:
    """Hierarchy like BDC_SM/MD/LG (tile_factor [[10,10],[20,20],[40,40]]
    in grid-bdc-md.json): each level multiplies the base tile size."""
    return {name: create_tiles(bbox, base_tile_size_m * factor, grid_name=name)
            for name, factor in zip(names, factors)}


def geographic_grid_constants(projection: str, meridian: float,
                              tile_factor: list[tuple[int, int]],
                              shape: tuple[int, int],
                              bbox: tuple[float, float, float, float]) -> dict:
    """The projected anchors of the reference's geographic grid
    algorithm (``cube_builder/grids.py:80-182`` create_grids): degree
    bbox + meridian → grid-CRS meters via the Snyder projection math in
    ``operators/warp`` (the reference calls pyproj/rasterio here).

    Returns the center-tile size, grid origin, and the clip extents —
    everything downstream tiling needs; the tiling itself is pure
    arithmetic (``create_geographic_grids``) and is independently
    re-derived by the DuckDB oracle from these constants.
    """
    import numpy as np

    from .operators.warp import forward, parse_crs

    if projection == "aea":
        crs = parse_crs(
            f"+proj=aea +lat_0=-12 +lon_0={meridian} +lat_1=-2 +lat_2=-22 "
            "+x_0=5000000 +y_0=10000000 +ellps=GRS80")

        def fwd(lon, lat):
            return forward(crs, lon, lat)
    elif projection == "sinu":
        # MODIS-style spherical sinusoidal (R = authalic sphere radius)
        R = 6371007.181

        def fwd(lon, lat):
            lon = np.asarray(lon, float)
            lat = np.asarray(lat, float)
            return (R * np.radians(lon - meridian) * np.cos(np.radians(lat)),
                    R * np.radians(lat))
    else:
        raise ValueError(f"unsupported grid projection {projection!r}")

    ref_res_x, ref_res_y = tile_factor[0]
    tile_w, tile_h = shape
    w, s, e, n = (float(v) for v in bbox)

    mx, my = (float(v) for v in fwd(meridian, -12.0))
    xmin_c = mx - (tile_w / 2.0) * ref_res_x
    xmax_c = mx + (tile_w / 2.0) * ref_res_x
    ymin_c = my - (tile_h / 2.0) * ref_res_y
    ymax_c = my + (tile_h / 2.0) * ref_res_y
    tile_size_x = xmax_c - xmin_c
    tile_size_y = ymax_c - ymin_c

    # envelope of the projected bbox corners (the reference transforms
    # the shapely box outline, then takes .envelope)
    bx, by = fwd([w, e, e, w], [s, s, n, n])
    env = (float(bx.min()), float(by.min()), float(bx.max()), float(by.max()))
    total_left = math.ceil(abs(xmin_c - env[0]) / tile_size_x)
    total_upper = math.ceil(abs(ymax_c - env[3]) / tile_size_y) + 1
    x_min_grid = xmin_c - total_left * tile_size_x
    y_max_grid = ymax_c + total_upper * tile_size_y

    # clip extents: x from the E/W points at lat 0, y from the
    # meridian points at N/S (reference grids.py:157-165)
    cx, cy = fwd([w, e, meridian, meridian], [0.0, 0.0, n, s])
    return {"tile_size_x": tile_size_x, "tile_size_y": tile_size_y,
            "x_min_grid": x_min_grid, "y_max_grid": y_max_grid,
            "xl": float(cx[0]), "xr": float(cx[1]),
            "yu": float(cy[2]), "yb": float(cy[3])}


def create_geographic_grids(names: list[str], projection: str, meridian: float,
                            tile_factor: list[tuple[int, int]],
                            shape: tuple[int, int],
                            bbox: tuple[float, float, float, float]
                            ) -> dict[str, list[dict]]:
    """Reference ``create_grids`` (grids.py:80-182): hierarchical grids
    from a meridian + DEGREE bbox. Level k's tile is the center tile
    scaled by tile_factor[k]/tile_factor[0]; all levels share one grid
    origin so they nest exactly (BDC_SM/MD/LG)."""
    c = geographic_grid_constants(projection, meridian, tile_factor, shape, bbox)
    ref_res_x, ref_res_y = tile_factor[0]
    grids: dict[str, list[dict]] = {}
    for name, (rx, ry) in zip(names, tile_factor):
        tsx = c["tile_size_x"] * (rx / ref_res_x)
        tsy = c["tile_size_y"] * (ry / ref_res_y)
        h_min = int((c["xl"] - c["x_min_grid"]) / tsx)
        h_max = int((c["xr"] - c["x_min_grid"]) / tsx)
        v_min = int((c["y_max_grid"] - c["yu"]) / tsy)
        v_max = int((c["y_max_grid"] - c["yb"]) / tsy)
        tiles = []
        for ix in range(h_min, h_max + 1):
            x1 = c["x_min_grid"] + ix * tsx
            for iy in range(v_min, v_max + 1):
                y1 = c["y_max_grid"] - iy * tsy
                tiles.append({"grid": name, "tile_id": f"{ix:03d}{iy:03d}",
                              "xmin": x1, "xmax": x1 + tsx,
                              "ymax": y1, "ymin": y1 - tsy})
        grids[name] = tiles
    return grids


def tiles_df(spark: SparkSession, tiles: list[dict]) -> DataFrame:
    return local_df(spark,
        tiles, schema="grid string, tile_id string, xmin double, xmax double, ymax double, ymin double")


def tile_intersects(df: DataFrame, xmin: float, ymin: float, xmax: float, ymax: float) -> DataFrame:
    """R9 bbox-intersect as column arithmetic (replaces ST_Intersects)."""
    from pyspark.sql import functions as F
    return df.filter((F.col("xmin") < xmax) & (F.col("xmax") > xmin)
                     & (F.col("ymin") < ymax) & (F.col("ymax") > ymin))
