"""CLI — build a cube from a local raster directory (the reference's
``cube-builder build-local`` path, cli.py:147-188) with zero services:

    python tools/build_local.py SCENES_DIR OUT_DIR \
        --start 2020-01-01 --end 2020-01-16 --step 8 \
        --composite LCF --quality-band SCL [--histogram-match] [--force]

Files are classified by the S4 format regexes (band + datetime from
the filename), decoded executor-side, and run through the §3.1 job.
A re-run into the same OUT_DIR prunes the file listing before any scene
byte is read: scenes whose every unit is already published are not
decoded or warped, and a re-run with nothing left to build only appends
its job-log row (``plans.build_cube.Published``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from datetime import date

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_from_directory(spark, scenes_dir: str, out_dir: str, cfg,
                         fmt: dict | None = None,
                         grid: list[dict] | None = None,
                         src_crs: str | None = None,
                         dst_crs: str | None = None,
                         resampling: str = "nearest"):
    """S4 scan -> executor decode/warp -> cube job (importable API).

    Without ``grid``, scenes are assumed already on the target grid
    (decode path). With ``grid`` (+ ``src_crs``/``dst_crs``), each
    scene is warped onto the grid tiles first — the reference's full
    warp-merge flow (processing.py:144-316) with operators/warp.py
    doing the reprojection.

    Before any scene is read, the published units of ``out_dir`` decide
    which scenes the build still needs (``Published.pending``, over the
    classified file listing): the others are never opened, and with
    none left the build returns its no-op summary at once."""
    from pyspark.sql import functions as F

    from cube_builder_spark.plans.build_cube import (Published, build_cube,
                                                     skip_build)
    from cube_builder_spark.sources.local_scan import (classify_assets,
                                                       scan_directory)
    from cube_builder_spark.sources.raster_reader import decode_geotiff_pixels
    from cube_builder_spark.tables import local_df

    tile_of = F.regexp_extract("path", r"_t(\d+)_", 1)
    assets = scan_directory(spark, scenes_dir, fmt=fmt, with_content=True)
    published = Published.read(spark, out_dir, cfg)
    if published.units:
        listing = classify_assets(local_df(
            spark, [(p,) for p in assets.inputFiles()], "path string"), fmt)
        scenes = [(r.path, r.date, int(r.tile) if r.tile else None)
                  for r in listing.select("path", "date",
                                          tile_of.alias("tile")).collect()]
        keep = published.pending(
            cfg, scenes, None if grid is None else [t["tile_id"] for t in grid])
        if not keep:
            return skip_build(spark, out_dir, cfg, published)
        if len(keep) < len(scenes):
            assets = scan_directory(spark, keep, fmt=fmt, with_content=True)
    if grid is not None:
        from cube_builder_spark.operators.warp import warp_scenes
        pixels = warp_scenes(
            assets.withColumn("date_s", F.col("date").cast("string"))
            .select("path", "content", "band", "date_s"),
            grid, dst_crs or "EPSG:4326", src_crs or dst_crs or "EPSG:4326",
            resampling=resampling, nodata=cfg.nodata,
            extra_cols=("band", "date_s"))
    else:
        pixels = decode_geotiff_pixels(
            assets.withColumn("tile_id", tile_of)
            .withColumn("date_s", F.col("date").cast("string"))
            .select("path", "content", "band", "tile_id", "date_s"),
            extra_cols=["band", "tile_id", "date_s"])
        pixels = pixels.withColumn("tile_id", F.col("tile_id").cast("long"))
    obs = (pixels
           .withColumn("date", F.col("date_s").cast("date"))
           .withColumn("doy", F.dayofyear("date").cast("long"))
           .withColumn("source_idx", F.lit(0))
           .withColumn("scene_order", F.lit(0))
           .select("tile_id", "pixel_id", "band", "date", "doy",
                   "value", "source_idx", "scene_order"))
    return build_cube(spark, obs, out_dir, cfg, published)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("scenes_dir")
    ap.add_argument("out_dir")
    ap.add_argument("--cube", default="LOCAL-CUBE")
    ap.add_argument("--start", default="2020-01-01")
    ap.add_argument("--end", default="2020-01-16")
    ap.add_argument("--step", type=int, default=8)
    ap.add_argument("--composite", choices=["LCF", "MED"], default="LCF")
    ap.add_argument("--quality-band", default="SCL")
    ap.add_argument("--reference-day", type=int, default=None)
    ap.add_argument("--histogram-match", action="store_true")
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args(argv)

    from cube_builder_spark.plans.build_cube import CubeJobConfig
    from cube_builder_spark.session import get_spark
    cfg = CubeJobConfig(
        cube=args.cube, composite=args.composite,
        quality_band=args.quality_band,
        start=date.fromisoformat(args.start), end=date.fromisoformat(args.end),
        step=args.step, reference_day=args.reference_day,
        histogram_match=args.histogram_match, force=args.force,
        index_bands={})
    spark = get_spark("build-local")
    summary = build_from_directory(spark, args.scenes_dir, args.out_dir, cfg)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
