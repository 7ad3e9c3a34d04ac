"""CLI — build a cube from a STAC search (the reference's
``cube-builder build`` path, cli.py:81-144) with zero services:

    python tools/build_stac.py MY-CUBE OUT_DIR \
        --stac-url http://stac.host --collections S2_L2A \
        --tiles 0,1 --bbox -54,-12,-53,-11 \
        --start 2020-01-01 --end 2020-01-16 --step 8 \
        --bands B04,SCL --composite LCF [--safe-zip] [--legacy-stac]

One STAC search per tile (S1/S2/S3 adapters), executor-side asset
fetch + decode (ranged remote containers via sources.raster_reader),
then the same §3.1 build DAG build-local uses. A re-run into the same
OUT_DIR fetches only the assets of units not yet published there, and
none when every unit is (``plans.build_cube.Published``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from datetime import date

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _shuffle_width(spark) -> int:
    """Fetch-fan-out width. Platforms whose sessions are built with
    ``spark.sql.shuffle.partitions=auto`` (AQE auto-coalescing setups)
    return a non-integer here — fall back to the cluster's default
    parallelism instead of crashing the CLI on int()."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def _as(parse, text):
    """``parse(text)``, or None when it does not parse (the prune then
    keeps the asset)."""
    try:
        return parse(text)
    except (TypeError, ValueError):
        return None


def build_from_stac(spark, out_dir: str, cfg, stac_url: str,
                    collection: str, bands: list[str], bbox: list[float],
                    start: str, end: str, tiles: list[str],
                    version: str = "1.0.0", safe_zip: bool = False,
                    transport=None, tile_bboxes: dict | None = None,
                    grid: list[dict] | None = None,
                    src_crs: str | None = None,
                    dst_crs: str | None = None,
                    resampling: str = "nearest"):
    """STAC search → asset fetch/decode → cube job (importable API).

    Mirrors the reference flow CubeController.maestro →
    Maestro.search_images → per-asset merge tasks (cli.py:81-144,
    maestro.py:630-753) as: search_images per tile, one distributed
    fetch pass, build_cube. Without ``grid``, scenes are assumed
    already on the target grid (decode path). With ``grid``
    (+ src_crs/dst_crs), each fetched scene is warped onto the grid
    tiles first — the reference's full warp-merge flow
    (processing.py:144-316), sharing operators/warp.py with
    build_local. Like build_local, it prunes the searched assets by
    the units already published in ``out_dir`` before any fetch."""
    from pyspark.sql import functions as F

    from cube_builder_spark.plans.build_cube import (Published, build_cube,
                                                     skip_build)
    from cube_builder_spark.sources.stac import (StacClient,
                                                 fetch_asset_content,
                                                 fetch_asset_pixels,
                                                 http_transport,
                                                 search_images)

    client = StacClient(stac_url, version=version,
                        transport=transport or http_transport)
    assets = None
    for tile in tiles:
        # one bbox-scoped search per tile (the reference resolves each
        # tile's geometry from the grid, maestro.py:630-660); a shared
        # ROI bbox is the CLI default
        tb = (tile_bboxes or {}).get(tile, bbox)
        a = search_images(spark, client, collection, bands, tb,
                          start, end, tile, safe_zip=safe_zip)
        assets = a if assets is None else assets.unionByName(a)
    if assets is None:
        raise SystemExit("no tiles requested")
    # fail fast on an empty search — otherwise the miss surfaces much
    # later as an opaque build_cube error on an empty merge plane.
    # This take(1) does NOT re-run the STAC searches: client.search is
    # an EAGER driver-side call (each tile's features are already
    # local lists; assets is a union of LocalTableScans), so the probe
    # and the later build both read the same collected rows —
    # tests/test_build_stac.py pins the transport call count.
    if not assets.take(1):
        raise SystemExit(
            f"STAC search returned no items for collection "
            f"{collection!r}, tiles {tiles}, {start}..{end} — check the "
            "bbox/date window and collection name")
    published = Published.read(spark, out_dir, cfg)
    if published.units:
        rows = assets.select("link", "date", "tile_id").collect()
        keep = published.pending(
            cfg, [(r.link, _as(date.fromisoformat, r.date), _as(int, r.tile_id))
                  for r in rows],
            None if grid is None else [t["tile_id"] for t in grid])
        if not keep:
            return skip_build(spark, out_dir, cfg, published)
        if len(keep) < len(rows):
            assets = assets.filter(F.col("link").isin(*keep))
    # fan the per-asset fetch out across executors (one search can
    # return thousands of assets; without this the downloads would run
    # in the local_df scan's partitions, split by row position rather
    # than by scene and band)
    assets = assets.repartition(_shuffle_width(spark), "sceneid", "band")
    if grid is not None:
        from cube_builder_spark.operators.warp import warp_scenes
        content = (fetch_asset_content(assets)
                   .withColumnRenamed("date", "date_s")
                   .withColumnRenamed("link", "path"))
        pixels = warp_scenes(
            content.select("path", "content", "band", "date_s"),
            grid, dst_crs or "EPSG:4326",
            src_crs or dst_crs or "EPSG:4326",
            resampling=resampling, nodata=cfg.nodata,
            extra_cols=("band", "date_s"))
        pixels = pixels.withColumn("date", F.col("date_s").cast("date"))
    else:
        pixels = (fetch_asset_pixels(assets)
                  .withColumn("date", F.col("date").cast("date"))
                  .withColumn("tile_id", F.col("tile_id").cast("long")))
    obs = (pixels
           .withColumn("doy", F.dayofyear("date").cast("long"))
           .withColumn("source_idx", F.lit(0))
           .withColumn("scene_order", F.lit(0))
           .select("tile_id", "pixel_id", "band", "date", "doy",
                   "value", "source_idx", "scene_order"))
    return build_cube(spark, obs, out_dir, cfg, published)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("datacube")
    ap.add_argument("out_dir")
    ap.add_argument("--stac-url", required=True)
    ap.add_argument("--collections", required=True,
                    help="comma-separated; first is searched")
    ap.add_argument("--tiles", required=True, help="comma-separated")
    ap.add_argument("--bbox", default="-180,-90,180,90",
                    help="minx,miny,maxx,maxy")
    ap.add_argument("--start", required=True)
    ap.add_argument("--end", required=True)
    ap.add_argument("--step", type=int, default=8)
    ap.add_argument("--bands", default="B04,SCL", help="comma-separated")
    ap.add_argument("--composite", choices=["LCF", "MED", "IDT"],
                    default="LCF")
    ap.add_argument("--quality-band", default="SCL")
    ap.add_argument("--reference-day", type=int, default=None)
    ap.add_argument("--safe-zip", action="store_true",
                    help="Sentinel-SAFE single-zip-asset adaptation")
    ap.add_argument("--legacy-stac", action="store_true",
                    help="STAC 0.8/0.9 GET transport")
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args(argv)

    from cube_builder_spark.plans.build_cube import CubeJobConfig
    from cube_builder_spark.session import get_spark
    cfg = CubeJobConfig(
        cube=args.datacube, composite=args.composite,
        quality_band=args.quality_band,
        start=date.fromisoformat(args.start),
        end=date.fromisoformat(args.end), step=args.step,
        reference_day=args.reference_day, force=args.force,
        index_bands={})
    spark = get_spark("build-stac")
    summary = build_from_stac(
        spark, args.out_dir, cfg, args.stac_url,
        args.collections.split(",")[0], args.bands.split(","),
        [float(x) for x in args.bbox.split(",")],
        args.start, args.end, args.tiles.split(","),
        version="0.9.0" if args.legacy_stac else "1.0.0",
        safe_zip=args.safe_zip)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
