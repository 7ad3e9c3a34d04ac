"""Files-to-cube E2E: real band FILES on disk -> S4 directory scan ->
executor-side decode -> the §3.1 cube job. The whole ingest path runs
with true file I/O (stdlib GeoTIFF codec), no rasterio required."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cube_builder_spark.pixelplane import BAND_NODATA, pixel_plane
from cube_builder_spark.plans.build_cube import CubeJobConfig, build_cube
from cube_builder_spark.sinks.cog import write_cog_band, write_geotiff_band
from cube_builder_spark.sources.local_scan import scan_directory
from cube_builder_spark.sources.raster_reader import decode_geotiff_pixels

NPX, NCOLS = 512, 32
FMT = {
    "pattern": r".*\.tif$",
    "bands": {"B04": r".*_(B04)\.tif$", "SCL": r".*_(SCL)\.tif$"},
    "datetime": {"pattern": r".*_(\d{8})T\d{6}_.*", "format": "yyyyMMdd"},
}


@pytest.fixture(scope="module")
def scene_dir(spark, sf_dir, tmp_path_factory):
    """Write per (tile, date) B04+SCL GeoTIFFs from the deterministic
    plane (sf0.001 keeps this to a few dozen files)."""
    d = tmp_path_factory.mktemp("scenes")
    px = pixel_plane(spark, sf_dir).collect()
    scenes = {}
    for r in px:
        scenes.setdefault((r.tile_id, r.date), {}).setdefault(
            "B04", np.full(NPX, BAND_NODATA, np.int64))[r.pixel_id] = r.value
        scenes[(r.tile_id, r.date)].setdefault(
            "SCL", np.zeros(NPX, np.int64))[r.pixel_id] = r.quality
    for (tile, date), bands in scenes.items():
        stamp = date.strftime("%Y%m%d")
        for band, arr in bands.items():
            buf = write_geotiff_band(
                arr.astype(np.int16).reshape(NPX // NCOLS, NCOLS))
            (d / f"S2A_t{tile:03d}_{stamp}T000000_{band}.tif").write_bytes(buf)
    return str(d), px


def test_scan_decode_matches_plane(spark, scene_dir):
    folder, px_rows = scene_dir
    assets = scan_directory(spark, folder, fmt=FMT, with_content=True)
    pixels = decode_geotiff_pixels(
        assets.withColumn("tile_id", F.regexp_extract("path", r"_t(\d{3})_", 1))
        .withColumn("date_s", F.col("date").cast("string"))
        .select("path", "content", "band", "tile_id", "date_s"),
        extra_cols=["band", "tile_id", "date_s"])
    got = {(int(r.tile_id), r.date_s, r.band, r.pixel_id): r.value
           for r in pixels.collect()}
    # every plane observation roundtrips through the files
    for r in px_rows:
        key = (r.tile_id, r.date.isoformat(), "B04", r.pixel_id)
        assert got[key] == r.value
        keyq = (r.tile_id, r.date.isoformat(), "SCL", r.pixel_id)
        assert got[keyq] == r.quality


def test_files_to_cube_equals_direct_obs(spark, sf_dir, scene_dir, tmp_path):
    folder, _ = scene_dir
    assets = scan_directory(spark, folder, fmt=FMT, with_content=True)
    pixels = decode_geotiff_pixels(
        assets.withColumn("tile_id", F.regexp_extract("path", r"_t(\d{3})_", 1))
        .withColumn("date_s", F.col("date").cast("string"))
        .select("path", "content", "band", "tile_id", "date_s"),
        extra_cols=["band", "tile_id", "date_s"])
    obs = (pixels
           .withColumn("tile_id", F.col("tile_id").cast("long"))
           .withColumn("date", F.col("date_s").cast("date"))
           .withColumn("doy", F.dayofyear("date").cast("long"))
           .withColumn("source_idx", F.lit(0))
           .withColumn("scene_order", F.lit(0))
           .select("tile_id", "pixel_id", "band", "date", "doy",
                   "value", "source_idx", "scene_order"))
    res = build_cube(spark, obs, str(tmp_path / "from_files"),
                     CubeJobConfig(index_bands={}))
    assert res["new_items"] > 0
    cube = spark.read.parquet(res["cube_path"])

    # the from-files cube must equal the cube built from the same data
    # delivered directly — files are DENSE rasters (every slot present,
    # unobserved = nodata/quality-0), so densify the plane the same way
    px = pixel_plane(spark, sf_dir)
    frame = (px.select("tile_id", "date", "doy").distinct()
             .crossJoin(spark.range(NPX).select(F.col("id").alias("pixel_id"))))
    dense = (frame.join(px, ["tile_id", "date", "doy", "pixel_id"], "left")
             .withColumn("value", F.coalesce("value", F.lit(BAND_NODATA)))
             .withColumn("quality", F.coalesce("quality", F.lit(0))))
    direct_obs = (dense.select(
        "tile_id", "pixel_id", "date", "doy",
        F.lit("B04").alias("band"), F.col("value").cast("long").alias("value"),
        F.lit(0).alias("source_idx"), F.lit(0).alias("scene_order"))
        .unionByName(dense.select(
            "tile_id", "pixel_id", "date", "doy",
            F.lit("SCL").alias("band"), F.col("quality").cast("long").alias("value"),
            F.lit(0).alias("source_idx"), F.lit(0).alias("scene_order"))))
    res2 = build_cube(spark, direct_obs, str(tmp_path / "direct"),
                      CubeJobConfig(index_bands={}))
    direct = spark.read.parquet(res2["cube_path"])

    key = ["tile_id", "period", "band", "pixel_id"]
    joined = (cube.select(*key, "value").alias("f")
              .join(direct.select(*key, "value").alias("d"), key, "full"))
    bad = joined.filter(
        F.col("f.value").isNull() | F.col("d.value").isNull()
        | (F.col("f.value") != F.col("d.value"))).count()
    assert bad == 0


def test_build_from_directory_warp_path(spark, tmp_path):
    """build-local with a grid: scenes carry real georeferencing, the
    warp stage places them on the target tiles, and the resulting cube
    equals the decode path's (identity grid, all pixels valid so the
    two deliveries are the same observations). The same scenes written
    as tiled COGs build the same cube."""
    from tools.build_local import build_from_directory

    res = 30.0
    warp_dir = tmp_path / "wscenes"
    warp_dir.mkdir()
    cog_dir = tmp_path / "cscenes"
    cog_dir.mkdir()
    rng = np.random.default_rng(3)
    for tile in (0, 1):
        for di, stamp in enumerate(("20200101", "20200103")):
            vals = rng.integers(1, 3000, NPX).astype(np.int16)
            qual = rng.integers(0, 12, NPX).astype(np.int16)
            for band, arr in (("B04", vals), ("SCL", qual)):
                name = f"S2A_t{tile:03d}_{stamp}T000000_{band}.tif"
                geo = dict(pixel_size=(res, res),
                           origin=(tile * NCOLS * res, 0.0),
                           nodata=BAND_NODATA)
                arr = arr.reshape(NPX // NCOLS, NCOLS)
                (warp_dir / name).write_bytes(write_geotiff_band(arr, **geo))
                (cog_dir / name).write_bytes(
                    write_cog_band(arr, tile=8, **geo))

    grid = [{"tile_id": t, "west": t * NCOLS * res, "north": 0.0,
             "width": NCOLS, "height": NPX // NCOLS, "res": res}
            for t in (0, 1)]
    cfg = CubeJobConfig(index_bands={})
    res_w = build_from_directory(spark, str(warp_dir), str(tmp_path / "w"),
                                 cfg, fmt=FMT, grid=grid,
                                 src_crs="EPSG:32722", dst_crs="EPSG:32722")
    res_d = build_from_directory(spark, str(warp_dir), str(tmp_path / "d"),
                                 cfg, fmt=FMT)
    res_c = build_from_directory(spark, str(cog_dir), str(tmp_path / "c"),
                                 cfg, fmt=FMT, grid=grid,
                                 src_crs="EPSG:32722", dst_crs="EPSG:32722")
    assert res_w["new_items"] == res_d["new_items"] == res_c["new_items"] > 0
    key = ["tile_id", "period", "band", "pixel_id"]
    w = spark.read.parquet(res_w["cube_path"]).select(*key, "value")
    d = spark.read.parquet(res_d["cube_path"]).select(*key, "value")
    c = spark.read.parquet(res_c["cube_path"]).select(*key, "value")
    assert w.count() == d.count() == c.count() > 0
    assert w.exceptAll(d).count() == 0
    assert w.exceptAll(c).count() == 0


def test_build_local_cli_api(spark, scene_dir, tmp_path):
    """The build-local entry (cli.py:147-188 analogue) runs the whole
    directory->cube path via its importable half."""
    import datetime
    import os
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools"))
    from build_local import build_from_directory

    from cube_builder_spark.plans.build_cube import CubeJobConfig
    folder, _ = scene_dir
    cfg = CubeJobConfig(cube="CLI-CUBE", index_bands={},
                        start=datetime.date(2020, 1, 1),
                        end=datetime.date(2020, 1, 16), step=8)
    out = str(tmp_path / "cli_out")
    summary = build_from_directory(spark, folder, out, cfg, fmt=FMT)
    assert summary["new_items"] > 0
    cube = spark.read.parquet(summary["cube_path"])
    assert cube.count() > 0


def test_hierarchical_grids_nest(spark):
    from cube_builder_spark.grids import create_hierarchical_grids
    grids = create_hierarchical_grids(
        (0.0, 0.0, 4_000_000.0, 4_000_000.0), 100_000.0,
        factors=[1, 2, 4], names=["SM", "MD", "LG"])
    assert len(grids["SM"]) == 40 * 40
    assert len(grids["MD"]) == 20 * 20
    assert len(grids["LG"]) == 10 * 10
    # nesting: every SM tile lies inside exactly one MD tile
    def contains(big, small):
        return (big["xmin"] <= small["xmin"] and big["xmax"] >= small["xmax"]
                and big["ymin"] <= small["ymin"] and big["ymax"] >= small["ymax"])
    import random
    rng = random.Random(7)
    for sm in rng.sample(grids["SM"], 25):
        parents = [md for md in grids["MD"] if contains(md, sm)]
        assert len(parents) == 1
