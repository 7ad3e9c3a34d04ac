#!/usr/bin/env python
"""The empirical 10x scale point (round-14 verdict #2).

Runs the round's top-10 slowest queries plus the corpus-scatter
archetypes (d_minhash_lsh_pairs, a_hybrid_rrf_scalable) at TWO
self-generated scales (tools/gen_scale_data.py, default gen-0.1 and
gen-1.0), plus grid-scale probes that drive the raster scatter
kernels (focal stats, semivariogram, flow routing) at 10x the TILES
(see GRID_PROBES for why density is the wrong axis there), and
records, per query: min wall over N runs at each scale, the 10x
slope t_big/t_small, and the executed plan's shuffle + spill bytes
(cube_builder_spark.metrics) at each scale — converting the "linear
scatter, no quadratic cliff" docstring claims into measured numbers.

Both scale points come from the SAME generator so distribution
mismatch vs the driver data cancels out of the slope. A slope <= ~10
on 10x data means the plan scales linearly or better (fixed overheads
amortize); a slope >> 10 or a spill appearing only at the big scale is
the constant-factor cliff this instrument exists to catch.

Usage:
  python tools/gen_scale_data.py 0.1 /tmp/scale/gen0.1
  python tools/gen_scale_data.py 1.0 /tmp/scale/gen1.0
  python tools/bench_scale.py [--runs 2] [--out BENCH_SF1.json]

Writes the sidecar next to this repo's root and prints one JSON line.
"""
from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

SCATTER = ["d_minhash_lsh_pairs", "a_hybrid_rrf_scalable"]

# --- grid-scale probes for the raster scatter family ------------------------
#
# The registered c28/c36/c50 queries derive their cells from the FIXED
# 65k-cell pixel plane, so feeding them 10x lineitem rows only packs
# more observations per cell until the max-quality composite saturates
# (every cell's max lands in quality >= 8 and the clear-filter empties)
# — scaling observation DENSITY is the wrong axis. A datacube scales
# out by TILE COUNT at fixed tile size, so these probes drive the
# operator kernels directly on synthetic terrain at 10x the tiles,
# measuring exactly the scatter/iteration cost the registered queries'
# docstrings argue about.

GRID_TILES_SMALL = 16
GRID_H = GRID_W = 64


def _grid_cells(spark, n_tiles: int):
    from pyspark.sql import functions as F
    per = GRID_H * GRID_W
    base = spark.range(n_tiles * per)
    # deterministic pseudo-terrain: smooth ramp + hash noise, ~2% holes
    return (base.select(
        (F.col("id") / per).cast("long").alias("tile_id"),
        ((F.col("id") % per) / GRID_W).cast("long").alias("y"),
        (F.col("id") % GRID_W).alias("x"),
        F.pmod(F.xxhash64(F.col("id") * 2654435761), F.lit(211)).alias("n"))
        .filter(F.col("n") >= 4)
        .select("tile_id", "y", "x",
                (F.col("y") * 3 + F.col("x") * 2 + F.col("n")).alias("v")))


def _probe_focal(spark, n_tiles: int):
    from pyspark.sql import functions as F
    from cube_builder_spark.operators.focal import focal_box_stats
    out = focal_box_stats(_grid_cells(spark, n_tiles),
                          radius=1, height=GRID_H, width=GRID_W)
    return out.agg(F.count(F.lit(1)).alias("n_cells"),
                   F.sum("sum_nbrs").alias("checksum"))


def _probe_semivariogram(spark, n_tiles: int):
    from cube_builder_spark.cube_queries import semivariogram_cells
    return semivariogram_cells(_grid_cells(spark, n_tiles), max_lag=4)


def _probe_flow(spark, n_tiles: int):
    from pyspark.sql import functions as F
    from cube_builder_spark.operators.focal import (flow_accumulation,
                                                    flow_direction)
    dirs = flow_direction(_grid_cells(spark, n_tiles),
                          height=GRID_H, width=GRID_W)
    return flow_accumulation(dirs).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("acc").alias("checksum"))


GRID_PROBES = {"grid_focal_stats": _probe_focal,
               "grid_semivariogram": _probe_semivariogram,
               "grid_flow_routing": _probe_flow}


def top10_from_detail() -> list[str]:
    import glob
    files = sorted(f for f in glob.glob(os.path.join(HERE, "BENCH_DETAIL_r??.json"))
                   if "_sf" not in os.path.basename(f))
    with open(files[-1]) as fh:
        rec = json.load(fh)
    return sorted(rec["queries"], key=rec["queries"].get, reverse=True)[:10]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/tmp/scale/gen0.1")
    ap.add_argument("--big", default="/tmp/scale/gen1.0")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(HERE, "BENCH_SF1.json"))
    ap.add_argument("queries", nargs="*",
                    help="override the query list (default: r-detail "
                         "top-10 + scatter archetypes)")
    args = ap.parse_args()

    # raster rows whose cells derive from the fixed pixel plane are
    # density-degenerate at 10x tables (the composite saturates and
    # the clear-filter empties — see GRID_PROBES): their scale truth
    # comes from the tile-count probes instead
    degenerate = {"c28_focal_stats", "c29_focal_majority",
                  "c36_flow_routing", "c40_cloud_distance",
                  "c47_morans_i", "c48_getis_ord", "c49_local_moran",
                  "c50_semivariogram"}
    names = args.queries or [
        n for n in dict.fromkeys(
            top10_from_detail() + SCATTER + sorted(GRID_PROBES))
        if n not in degenerate]

    from cube_builder_spark import metrics
    from cube_builder_spark.session import get_spark
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(HERE, "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    qmap = entry.queries()
    missing = [n for n in names
               if n not in qmap and n not in GRID_PROBES]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")

    spark = get_spark()
    # the first pandas-UDF query at the small scale must not carry the
    # worker spawn cost into its slope
    metrics.warm_python_workers(spark)

    record: dict = {"metric": "scale_slope_10x", "unit": "ratio",
                    "small_dir": args.small, "big_dir": args.big,
                    "runs_per_query": args.runs, "agg": "min",
                    "generator": "tools/gen_scale_data.py seed=42",
                    "grid_probes": {"names": sorted(GRID_PROBES),
                                    "tiles_small": GRID_TILES_SMALL,
                                    "tiles_big": GRID_TILES_SMALL * 10,
                                    "tile": f"{GRID_H}x{GRID_W}"},
                    "queries": {}}
    # table-scale rows (sf_dir-driven) + grid-scale probes (tile-count
    # driven; the raster scatter family's honest scale axis)
    probe_args = {}
    for name in names:
        if name in GRID_PROBES:
            qmap[name] = GRID_PROBES[name]
            probe_args[name] = (GRID_TILES_SMALL, GRID_TILES_SMALL * 10)
        else:
            probe_args[name] = (args.small, args.big)
    for name, (small_arg, big_arg) in probe_args.items():
        fn = qmap[name]
        entry_rec: dict = {}
        for tag, d in (("small", small_arg), ("big", big_arg)):
            best, rows, shuf, spill = None, 0, 0, 0
            for _ in range(args.runs):
                gc.collect()
                t0 = time.monotonic()
                df = fn(spark, d)
                out = df.collect()
                dt = time.monotonic() - t0
                if best is None or dt < best:
                    best = dt
                rows = len(out)
                try:
                    shuf = metrics.shuffle_bytes(df)
                    spill = metrics.spill_bytes(df)
                except Exception:
                    shuf = spill = -1
            entry_rec[f"t_{tag}"] = round(best, 3)
            entry_rec[f"rows_{tag}"] = rows
            entry_rec[f"shuffle_{tag}"] = shuf
            entry_rec[f"spill_{tag}"] = spill
        entry_rec["slope"] = round(entry_rec["t_big"] /
                                   max(entry_rec["t_small"], 1e-9), 2)
        record["queries"][name] = entry_rec
        print(f"  {name}: {entry_rec['t_small']}s -> {entry_rec['t_big']}s "
              f"slope={entry_rec['slope']} "
              f"shuffle {entry_rec['shuffle_small']}->"
              f"{entry_rec['shuffle_big']} spill_big={entry_rec['spill_big']}",
              flush=True)

    slopes = [q["slope"] for q in record["queries"].values()]
    record["max_slope"] = max(slopes)
    record["median_slope"] = sorted(slopes)[len(slopes) // 2]
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"metric": record["metric"],
                      "max_slope": record["max_slope"],
                      "median_slope": record["median_slope"],
                      "n_queries": len(slopes)}))


if __name__ == "__main__":
    main()
