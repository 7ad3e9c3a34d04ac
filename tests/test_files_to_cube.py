"""Files-to-cube E2E: real band FILES on disk -> S4 directory scan ->
executor-side decode -> the §3.1 cube job. The whole ingest path runs
with true file I/O (stdlib GeoTIFF codec), no rasterio required."""

from __future__ import annotations

import os
import re

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


# -- re-runs: scenes are pruned from the listing before any scene is read ---

RERUN_TILES, RERUN_ROWS, RERUN_COLS, RERUN_RES = (0, 1), 8, 8, 30.0
RERUN_DATES = {"2020-01-01_2020-01-08": ("20200101", "20200103"),
               "2020-01-09_2020-01-16": ("20200110", "20200112")}


def _rerun_grid(tiles):
    return [{"tile_id": t, "west": t * RERUN_COLS * RERUN_RES, "north": 0.0,
             "width": RERUN_COLS, "height": RERUN_ROWS, "res": RERUN_RES}
            for t in tiles]


@pytest.fixture(scope="module")
def rerun_scenes(tmp_path_factory):
    """One georeferenced B04+SCL scene per (tile, date): two tiles, two
    dates in each of the two default periods."""
    d = tmp_path_factory.mktemp("rerun_scenes")
    rng = np.random.default_rng(11)
    for tile in RERUN_TILES:
        for stamps in RERUN_DATES.values():
            for stamp in stamps:
                geo = dict(pixel_size=(RERUN_RES, RERUN_RES),
                           origin=(tile * RERUN_COLS * RERUN_RES, 0.0),
                           nodata=BAND_NODATA)
                shape = (RERUN_ROWS, RERUN_COLS)
                for band, arr in (
                        ("B04", rng.integers(1, 3000, shape)),
                        ("SCL", rng.integers(0, 12, shape))):
                    (d / f"S2A_t{tile:03d}_{stamp}T000000_{band}.tif").write_bytes(
                        write_geotiff_band(arr.astype(np.int16), **geo))
    return str(d)


def _build(spark, scenes, out, grid_tiles=(), **cfg):
    from tools.build_local import build_from_directory
    grid = dict(grid=_rerun_grid(grid_tiles), src_crs="EPSG:32722",
                dst_crs="EPSG:32722") if grid_tiles else {}
    return build_from_directory(spark, scenes, out,
                                CubeJobConfig(index_bands={}, **cfg),
                                fmt=FMT, **grid)


@pytest.fixture(scope="module")
def fresh_builds(spark, rerun_scenes, tmp_path_factory):
    """One full build per path, warp (both grid tiles) and decode; each
    re-run test starts from a copy of one."""
    root = tmp_path_factory.mktemp("fresh")
    out = {"warp": str(root / "warp"), "decode": str(root / "decode")}
    built = {"warp": _build(spark, rerun_scenes, out["warp"], RERUN_TILES),
             "decode": _build(spark, rerun_scenes, out["decode"])}
    assert built["warp"]["new_items"] == built["decode"]["new_items"] == 4
    return {k: (out[k], built[k]) for k in out}


def _copy_of(fresh, path, tmp_path):
    import shutil
    out = str(tmp_path / path)
    shutil.copytree(fresh[path][0], out)
    return out


def _read_scenes(monkeypatch, module, name):
    """Record the scene files each call of ``module.name`` reads."""
    import importlib
    mod = importlib.import_module(module)
    real, seen = getattr(mod, name), []

    def spy(files, *a, **kw):
        seen.append(sorted(os.path.basename(p) for p in files.inputFiles()))
        return real(files, *a, **kw)

    monkeypatch.setattr(mod, name, spy)
    return seen


def _assert_same_cube(spark, got, want):
    key = ["tile_id", "period", "band", "pixel_id"]
    g = spark.read.parquet(got["cube_path"]).select(*key, "value")
    w = spark.read.parquet(want["cube_path"]).select(*key, "value")
    assert g.count() == w.count() > 0
    assert g.exceptAll(w).count() == 0 and w.exceptAll(g).count() == 0


def _drop_items(out, tile="*", period="*"):
    import glob
    import shutil
    gone = glob.glob(os.path.join(out, "items", f"tile_id={tile}",
                                  f"period={period}"))
    assert gone
    for p in gone:
        shutil.rmtree(p)


def test_noop_warp_rebuild_reads_no_scene(spark, rerun_scenes, fresh_builds,
                                          tmp_path, monkeypatch, in_job_group):
    """A rebuild with every unit published reads no scene: a handful
    of jobs in its job group, none of them running a Python stage, and
    a job-log row of 0 new and all reused items."""
    from cube_builder_spark.plans.build_cube import job_status
    out = _copy_of(fresh_builds, "warp", tmp_path)
    warped = _read_scenes(monkeypatch, "cube_builder_spark.operators.warp",
                          "warp_scenes")
    again, jobs, plans = in_job_group(
        "test_noop_warp_rebuild",
        lambda: _build(spark, rerun_scenes, out, RERUN_TILES))
    assert again == {"cube_path": os.path.join(out, "cube"),
                     "items_path": os.path.join(out, "items"),
                     "new_items": 0, "reused_items": 4}
    assert warped == []
    assert 0 < len(jobs) <= 5 and plans
    assert not [p for p in plans
                if re.search(r"InPandas|InArrow|EvalPython", p)]
    st = job_status(spark, out).first()
    assert (st.n_runs, st.new_items, st.reused_items) == (2, 0, 4)


def test_rebuild_warps_only_the_unpublished_period(spark, rerun_scenes, fresh_builds,
                                                   tmp_path, monkeypatch):
    out = _copy_of(fresh_builds, "warp", tmp_path)
    period = "2020-01-09_2020-01-16"
    _drop_items(out, period=period)
    warped = _read_scenes(monkeypatch, "cube_builder_spark.operators.warp",
                          "warp_scenes")
    again = _build(spark, rerun_scenes, out, RERUN_TILES)
    assert (again["new_items"], again["reused_items"]) == (2, 2)
    assert warped == [sorted(
        f"S2A_t{t:03d}_{s}T000000_{b}.tif" for t in RERUN_TILES
        for s in RERUN_DATES[period] for b in ("B04", "SCL"))]
    _assert_same_cube(spark, again, fresh_builds["warp"][1])


def test_grid_growth_rebuilds_every_period(spark, rerun_scenes, fresh_builds,
                                           tmp_path):
    """Adding a grid tile leaves every period pending: each gains the
    new tile, and the cube equals a fresh two-tile build."""
    out = str(tmp_path / "grow")
    first = _build(spark, rerun_scenes, out, RERUN_TILES[:1])
    assert first["new_items"] == 2
    grown = _build(spark, rerun_scenes, out, RERUN_TILES)
    assert (grown["new_items"], grown["reused_items"]) == (2, 2)
    items = spark.read.parquet(grown["items_path"])
    assert {(r.tile_id, r.period) for r in items.collect()} == {
        (t, p) for t in RERUN_TILES for p in RERUN_DATES}
    _assert_same_cube(spark, grown, fresh_builds["warp"][1])


def test_forced_rebuild_reads_every_scene(spark, rerun_scenes, fresh_builds,
                                          tmp_path, monkeypatch):
    out = _copy_of(fresh_builds, "warp", tmp_path)
    warped = _read_scenes(monkeypatch, "cube_builder_spark.operators.warp",
                          "warp_scenes")
    forced = _build(spark, rerun_scenes, out, RERUN_TILES, force=True)
    assert (forced["new_items"], forced["reused_items"]) == (4, 0)
    assert len(warped) == 1 and len(warped[0]) == 16
    _assert_same_cube(spark, forced, fresh_builds["warp"][1])


def test_decode_rebuild_prunes_exact_units(spark, rerun_scenes, fresh_builds,
                                           tmp_path, monkeypatch):
    """Without a grid each scene names its tile, so the prune is by
    exact (tile, period): only the dropped unit's scenes are decoded."""
    out = _copy_of(fresh_builds, "decode", tmp_path)
    period = "2020-01-01_2020-01-08"
    _drop_items(out, tile=1, period=period)
    decoded = _read_scenes(monkeypatch, "cube_builder_spark.sources.raster_reader",
                           "decode_geotiff_pixels")
    again = _build(spark, rerun_scenes, out)
    assert (again["new_items"], again["reused_items"]) == (1, 3)
    assert decoded == [sorted(f"S2A_t001_{s}T000000_{b}.tif"
                              for s in RERUN_DATES[period]
                              for b in ("B04", "SCL"))]
    assert _build(spark, rerun_scenes, out)["new_items"] == 0
    assert len(decoded) == 1
    _assert_same_cube(spark, again, fresh_builds["decode"][1])
