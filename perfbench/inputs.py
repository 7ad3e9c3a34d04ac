"""Seeded benchmark inputs.

Everything the program receives is generated here from ``--seed``:

- ``write_scenes``: a directory of int16 GeoTIFF scenes in UTM 22S
  (EPSG:32722), one file per (date, band), named the way
  ``sources.local_scan.DEFAULT_FORMAT`` classifies them, plus the
  BDC-style Albers grid tiles they are warped onto.
- ``write_tables``: the TPC-H-style tables and events stream the
  registered queries read, written by ``tools/gen_scale_data.gen``
  with the seed passed through.

The seed changes pixel values, cloud cover and table contents; the
sizes and the geometry are fixed so that two seeds cost the same work.
"""

from __future__ import annotations

import datetime
import os

import numpy as np

BDC_AEA = ("+proj=aea +lat_0=-12 +lon_0=-54 +lat_1=-2 +lat_2=-22 "
           "+x_0=5000000 +y_0=10000000 +ellps=GRS80")
SCENE_CRS = "EPSG:32722"
N_DATES = 16
SCENE_PX = 48                 # scenes are SCENE_PX x SCENE_PX
RES = 30.0
TILE_W, TILE_H = 20, 40       # two tiles side by side, inside the scene
SCENE_WEST, SCENE_NORTH = 500000.0, 8600000.0
START = datetime.date(2020, 1, 1)
END = START + datetime.timedelta(days=N_DATES - 1)
STEP_DAYS = 8                 # two composite periods over the 16 dates
NODATA = -9999
TABLES_SF = 0.05


def periods() -> list[tuple[datetime.date, datetime.date]]:
    """The composite periods the build must publish: STEP_DAYS-day
    windows from START, the last one clipped at END."""
    out, start = [], START
    while start <= END:
        out.append((start, min(start + datetime.timedelta(days=STEP_DAYS - 1), END)))
        start += datetime.timedelta(days=STEP_DAYS)
    return out


def grid_tiles() -> list[dict]:
    """Two TILE_W x TILE_H tiles in BDC Albers, centred on the scene."""
    from cube_builder_spark.operators.warp import transform_points
    cx, cy = transform_points(
        SCENE_CRS, BDC_AEA,
        np.array([SCENE_WEST + SCENE_PX / 2 * RES]),
        np.array([SCENE_NORTH - SCENE_PX / 2 * RES]))
    west = float(cx[0]) - TILE_W * RES
    north = float(cy[0]) + TILE_H / 2 * RES
    return [{"tile_id": t, "west": west + t * TILE_W * RES, "north": north,
             "width": TILE_W, "height": TILE_H, "res": RES} for t in (0, 1)]


def write_scenes(out_dir: str, seed: int) -> None:
    """One GeoTIFF per (date, band). Each date gets its own cloud
    fraction, so scene efficacy (and with it the LCF order) differs
    between dates; SCL 0 marks no-data pixels, whose B04/B8A are
    written as the no-data value."""
    from cube_builder_spark.sinks.cog import write_geotiff_band
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    shape = (SCENE_PX, SCENE_PX)
    for day in (START + datetime.timedelta(days=i) for i in range(N_DATES)):
        cloud = rng.uniform(0.05, 0.9)
        u = rng.random(shape)
        scl = np.where(u < cloud, rng.choice([3, 8, 9, 10], size=shape),
                       rng.choice([4, 5, 6], size=shape))
        scl[rng.random(shape) < 0.02] = 0
        red = rng.integers(100, 4000, shape)
        nir = rng.integers(100, 8000, shape)
        arrays = {"B04": np.where(scl == 0, NODATA, red),
                  "B8A": np.where(scl == 0, NODATA, nir),
                  "SCL": scl}
        stamp = day.strftime("%Y%m%d")
        for band, arr in arrays.items():
            buf = write_geotiff_band(arr.astype(np.int16), pixel_size=(RES, RES),
                                     origin=(SCENE_WEST, SCENE_NORTH),
                                     nodata=NODATA)
            with open(os.path.join(out_dir, f"S2A_{stamp}T000000_{band}.tif"),
                      "wb") as fh:
                fh.write(buf)


def write_tables(out_dir: str, seed: int) -> None:
    """The query tables at TABLES_SF, generated quietly."""
    import contextlib
    import io

    from tools.gen_scale_data import gen
    with contextlib.redirect_stdout(io.StringIO()):
        gen(TABLES_SF, out_dir, seed)
