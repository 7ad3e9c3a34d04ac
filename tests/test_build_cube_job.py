"""E2E cube-build job: the §3.1 pipeline as one Spark DAG, with the
reference's structural invariants (test_cube_creation.py:163-188) and
incremental-reuse semantics (tasks.py:128-182)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from cube_builder_spark.pixelplane import BAND_NODATA, pixel_plane
from cube_builder_spark.plans.build_cube import CubeJobConfig, build_cube


def synth_observations(spark, sf_dir):
    """Multi-band observation stream from the deterministic pixel
    plane: B04 = plane value, B8A = derived variant, SCL = quality."""
    px = pixel_plane(spark, sf_dir)
    b8a_valid = ((F.col("value") * 3 + F.col("pixel_id")) % 20001 - 10000)
    common = ["tile_id", "pixel_id", "date", "doy", "source_idx"]
    b04 = px.select(*common, F.lit("B04").alias("band"),
                    F.col("value").cast("long").alias("value"))
    b8a = px.select(*common, F.lit("B8A").alias("band"),
                    F.when(F.col("value") == BAND_NODATA, F.lit(BAND_NODATA))
                    .otherwise(b8a_valid).cast("long").alias("value"))
    scl = px.select(*common, F.lit("SCL").alias("band"),
                    F.col("quality").cast("long").alias("value"))
    return (b04.unionByName(b8a).unionByName(scl)
            .withColumn("scene_order", F.col("source_idx")))


def test_build_cube_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "cube_out")
    obs = synth_observations(spark, sf_dir)
    res = build_cube(spark, obs, out, CubeJobConfig())
    assert res["new_items"] > 0 and res["reused_items"] == 0

    cube = spark.read.parquet(res["cube_path"])
    items = spark.read.parquet(res["items_path"])

    bands = {r.band for r in cube.select("band").distinct().collect()}
    assert bands == {"B04", "B8A", "NDVI"}

    # invariant: all bands of a (tile, period) cover the same pixel set
    per_band = (cube.groupBy("tile_id", "period", "band")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.countDistinct("pixel_id").alias("nd")))
    spread = (per_band.groupBy("tile_id", "period")
              .agg(F.countDistinct("n").alias("n_shapes"),
                   F.max((F.col("n") != F.col("nd")).cast("int")).alias("dupes")))
    bad = spread.filter((F.col("n_shapes") != 1) | (F.col("dupes") == 1)).count()
    assert bad == 0

    # one item per (tile, period) present in the cube
    cube_units = cube.select("tile_id", "period").distinct()
    assert items.count() == cube_units.count()

    # NDVI semantics: 10000*(B8A-B04)/(B8A+B04) clamped to int16,
    # nodata when either input is nodata
    wide = (cube.filter(F.col("band").isin("B04", "B8A", "NDVI"))
            .groupBy("tile_id", "period", "pixel_id")
            .pivot("band", ["B04", "B8A", "NDVI"]).agg(F.first("value")))
    expect = (F.when((F.col("B04") == BAND_NODATA) | (F.col("B8A") == BAND_NODATA),
                     F.lit(BAND_NODATA))
              .otherwise(F.coalesce(
                  F.least(F.greatest(
                      (10000 * (F.col("B8A") - F.col("B04"))
                       / F.nullif(F.col("B8A") + F.col("B04"), F.lit(0))),
                      F.lit(-32768.0)), F.lit(32767.0)).cast("long"),
                  F.lit(BAND_NODATA))))
    assert wide.filter(F.col("NDVI") != expect).count() == 0

    # values stay in int16 domain
    assert cube.filter((F.col("value") < -32768) | (F.col("value") > 32767)).count() == 0


def test_build_cube_incremental_reuse(spark, sf_dir, tmp_path):
    out = str(tmp_path / "cube_incr")
    obs = synth_observations(spark, sf_dir)
    first = build_cube(spark, obs, out, CubeJobConfig())
    assert first["new_items"] > 0

    # second run: everything already published -> nothing recomputed
    second = build_cube(spark, obs, out, CubeJobConfig())
    assert second["new_items"] == 0
    assert second["reused_items"] == first["new_items"]

    # force: full recompute appends a fresh copy of every item
    forced = build_cube(spark, obs, out, CubeJobConfig(force=True))
    assert forced["new_items"] == first["new_items"]


def test_build_cube_med_composite(spark, sf_dir, tmp_path):
    out = str(tmp_path / "cube_med")
    obs = synth_observations(spark, sf_dir)
    res = build_cube(spark, obs, out, CubeJobConfig(composite="MED",
                                                    index_bands={}))
    cube = spark.read.parquet(res["cube_path"])
    assert {r.band for r in cube.select("band").distinct().collect()} == {"B04", "B8A"}
    # MED value column equals the med_value statistic (long-cast)
    bad = cube.filter(F.col("value") != F.col("med_value").cast("long")).count()
    assert bad == 0


def test_job_log_and_status(spark, sf_dir, tmp_path):
    from cube_builder_spark.plans.build_cube import job_status
    out = str(tmp_path / "cube_log")
    obs = synth_observations(spark, sf_dir)
    build_cube(spark, obs, out, CubeJobConfig())
    build_cube(spark, obs, out, CubeJobConfig())   # no-op incremental run
    st = job_status(spark, out).collect()
    assert len(st) == 1
    r = st[0]
    assert r.cube == "SYN-CUBE-1" and r.n_runs == 2
    assert r.new_items == 0 and r.reused_items > 0   # latest run reused all


def test_build_cube_reference_day_ordering(spark, sf_dir, tmp_path):
    """C16 in the job: provenance skews toward the reference day."""
    obs = synth_observations(spark, sf_dir)
    res_eff = build_cube(spark, obs, str(tmp_path / "eff"),
                         CubeJobConfig(index_bands={}))
    res_ref = build_cube(spark, obs, str(tmp_path / "ref"),
                         CubeJobConfig(index_bands={}, reference_day=4))
    eff = spark.read.parquet(res_eff["cube_path"]).filter("band = 'B04'")
    ref = spark.read.parquet(res_ref["cube_path"]).filter("band = 'B04'")
    mean_dist = lambda df, day: (df.filter(F.col("provenance") > 0)
                                 .agg(F.avg(F.abs(F.col("provenance") - day)))
                                 .first()[0])
    # nearest-to-day-4-first ordering pulls provenance toward day 4
    assert mean_dist(ref, 4) < mean_dist(eff, 4)
    # same pixels produced either way
    assert eff.count() == ref.count()


def test_histogram_match_stage_pulls_dates_toward_best(spark, sf_dir, tmp_path):
    """C15 in the job: after matching, a non-best date's mean over
    jointly-valid pixels moves toward the best date's mean."""
    from cube_builder_spark.plans.build_cube import (assign_periods,
                                                     histogram_stage,
                                                     merge_stage, periods_df)
    obs = synth_observations(spark, sf_dir)
    cfg = CubeJobConfig()
    tagged = assign_periods(obs, periods_df(spark, cfg))
    merged = merge_stage(tagged, cfg).persist()
    try:
        matched = histogram_stage(merged, cfg)

        def stats(df):
            return {(r.tile_id, r.period, r.date): r.m for r in
                    (df.filter((F.col("band") == "B04") & (F.col("value") != -9999))
                     .groupBy("tile_id", "period", "date")
                     .agg(F.avg("value").alias("m")).collect())}

        before, after = stats(merged), stats(matched)
        # same scene set either way
        assert set(before) == set(after)
        # at least some scenes changed (matching had effect) and the
        # quality band never changes
        changed = [k for k in before if abs(before[k] - after[k]) > 1e-9]
        assert changed
        q_before = merged.filter(F.col("band") == "SCL").agg(
            F.sum("value")).first()[0]
        q_after = matched.filter(F.col("band") == "SCL").agg(
            F.sum("value")).first()[0]
        assert q_before == q_after
    finally:
        merged.unpersist()


def test_histogram_match_in_full_job(spark, sf_dir, tmp_path):
    obs = synth_observations(spark, sf_dir)
    res = build_cube(spark, obs, str(tmp_path / "hm"),
                     CubeJobConfig(histogram_match=True, index_bands={}))
    assert res["new_items"] > 0
    cube = spark.read.parquet(res["cube_path"])
    assert cube.filter((F.col("value") < -32768) | (F.col("value") > 32767)).count() == 0


def test_job_media_exports(spark, sf_dir, tmp_path):
    """§3.1 step 8: publish writes quicklook PNGs and band GeoTIFFs."""
    import glob
    import os

    from cube_builder_spark.sinks.quicklook import decode_png_rgb
    from cube_builder_spark.sources.cog_reader import CogReader
    out = str(tmp_path / "media")
    obs = synth_observations(spark, sf_dir)
    res = build_cube(spark, obs, out,
                     CubeJobConfig(index_bands={},
                                   quicklook_bands=("B04", "B8A", "B04"),
                                   export_tiffs=True, cog_tile=16))
    assert res["quicklooks"] > 0 and res["tiffs"] > 0
    png = sorted(glob.glob(os.path.join(out, "quicklook", "*.png")))[0]
    img = decode_png_rgb(open(png, "rb").read())
    assert img.shape[1] == 32 and img.shape[2] == 3
    tif = sorted(glob.glob(os.path.join(out, "tiff", "*.tif")))[0]
    got = CogReader(tif)                            # publish writes COGs now
    assert (got.read_level(0).shape[1] == 32
            and got.levels[0]["block"] == (16, 16))


def test_build_cube_bucketed_store(spark, sf_dir, tmp_path):
    from cube_builder_spark.sinks.bucketed import (plan_has_exchange,
                                                   read_bucketed)
    out = str(tmp_path / "cube_out")
    obs = synth_observations(spark, sf_dir)
    res = build_cube(spark, obs, out,
                     CubeJobConfig(bucketed_table="cube_e2e_bucketed"))
    assert res["bucketed_table"] == "cube_e2e_bucketed"
    back = read_bucketed(spark, "cube_e2e_bucketed")
    # same content as the partitioned cube
    flat = spark.read.parquet(res["cube_path"])
    assert back.count() == flat.count()
    # the payoff: per-pixel aggregation with zero Exchange
    agg = back.groupBy("tile_id", "pixel_id").agg(F.count(F.lit(1)))
    assert not plan_has_exchange(agg)
    spark.sql("DROP TABLE IF EXISTS cube_e2e_bucketed")


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_index_stage_starts_no_job(spark, sf_dir, in_job_group):
    """Planning the index bands reads the band names from the
    expressions, not from the data: no Spark job runs."""
    from cube_builder_spark.plans.build_cube import (assign_periods,
                                                     blend_stage, index_stage,
                                                     merge_stage, periods_df)
    cfg = CubeJobConfig()
    obs = synth_observations(spark, sf_dir)
    blended = blend_stage(merge_stage(assign_periods(obs, periods_df(spark, cfg)),
                                      cfg), cfg)
    rec = in_job_group("test_index_stage_starts_no_job",
                       lambda: index_stage(blended, cfg))
    assert rec.construct_jobs == 0
    assert "NDVI" in {r.band for r in rec.result.select("band").distinct().collect()}


def test_build_releases_its_caches(spark, sf_dir, tmp_path):
    """The merge and blend caches are released in the build's finally,
    for a full build with COG export and for a no-op rebuild."""
    out = str(tmp_path / "cube_cache")
    obs = synth_observations(spark, sf_dir)
    before = _persistent_rdd_ids(spark)
    first = build_cube(spark, obs, out, CubeJobConfig(export_tiffs=True))
    assert first["new_items"] > 0 and first["tiffs"] > 0
    assert _persistent_rdd_ids(spark) - before == set()
    again = build_cube(spark, obs, out, CubeJobConfig(export_tiffs=True))
    assert again["new_items"] == 0 and "tiffs" not in again
    assert _persistent_rdd_ids(spark) - before == set()


def test_index_nodata_when_any_spectral_band_is_nodata(spark, sf_dir, tmp_path):
    """An index is nodata where ANY spectral band is nodata, including a
    band its expression does not read (B02 for NDVI) — the rule a pivot
    over every band gives. An expression naming a band that no
    observation carries yields an all-nodata band."""
    obs = synth_observations(spark, sf_dir)
    b02 = (obs.filter(F.col("band") == "B04")
           .withColumn("band", F.lit("B02"))
           .withColumn("value", F.when(F.col("pixel_id") % 7 == 0, F.lit(BAND_NODATA))
                       .otherwise(F.col("value"))))
    cfg = CubeJobConfig(index_bands={"NDVI": "10000 * (B8A - B04) / (B8A + B04)",
                                     "NOBAND": "B03 - B04"})
    res = build_cube(spark, obs.unionByName(b02), str(tmp_path / "cube_b02"), cfg)
    cube = spark.read.parquet(res["cube_path"])
    assert {r.band for r in cube.select("band").distinct().collect()} == {
        "B02", "B04", "B8A", "NDVI", "NOBAND"}

    bands = ["B02", "B04", "B8A", "NDVI", "NOBAND"]
    wide = (cube.groupBy("tile_id", "period", "pixel_id")
            .pivot("band", bands).agg(F.first("value")))
    any_nodata = ((F.col("B02") == BAND_NODATA) | (F.col("B04") == BAND_NODATA)
                  | (F.col("B8A") == BAND_NODATA))
    expect = (F.when(any_nodata, F.lit(BAND_NODATA))
              .otherwise(F.coalesce(
                  F.least(F.greatest(
                      (10000 * (F.col("B8A") - F.col("B04"))
                       / F.nullif(F.col("B8A") + F.col("B04"), F.lit(0))),
                      F.lit(-32768.0)), F.lit(32767.0)).cast("long"),
                  F.lit(BAND_NODATA))))
    assert wide.filter(F.col("NDVI") != expect).count() == 0
    only_b02 = wide.filter((F.col("B02") == BAND_NODATA)
                           & (F.col("B04") != BAND_NODATA)
                           & (F.col("B8A") != BAND_NODATA))
    assert only_b02.count() > 0
    assert only_b02.filter(F.col("NDVI") != BAND_NODATA).count() == 0
    assert wide.filter(F.col("NOBAND") != BAND_NODATA).count() == 0


def test_cog_export_matches_cube_parquet(spark, sf_dir, tmp_path):
    """Every exported COG's full-resolution level holds exactly the cube
    parquet's values for its (tile, period, band), NDVI included."""
    import os

    import numpy as np

    from cube_builder_spark.sources.cog_reader import CogReader
    out = str(tmp_path / "cube_cog")
    obs = synth_observations(spark, sf_dir)
    res = build_cube(spark, obs, out, CubeJobConfig(export_tiffs=True))
    cube = (spark.read.parquet(res["cube_path"])
            .select("tile_id", "period", "band", "pixel_id", "value").toPandas())
    groups = cube.groupby(["tile_id", "period", "band"])
    assert "NDVI" in set(cube["band"]) and res["tiffs"] == len(groups)
    names = set()
    for (tile, period, band), g in groups:
        name = f"t{int(tile):03d}_{period}_{band}.tif"
        names.add(name)
        got = CogReader(os.path.join(out, "tiff", name)).read_level(0).ravel()
        want = np.full(got.size, BAND_NODATA, np.int16)
        want[g["pixel_id"].to_numpy()] = g["value"].to_numpy(np.int16)
        assert np.array_equal(got, want), name
    assert set(os.listdir(os.path.join(out, "tiff"))) == names


def test_existing_items_skips_a_leftover_write(spark, tmp_path):
    """An items directory holding only a killed write's _temporary has
    no readable parquet: it counts as no items."""
    from cube_builder_spark.plans.build_cube import existing_items
    leftover = tmp_path / "items" / "_temporary" / "0"
    leftover.mkdir(parents=True)
    (leftover / "part-00000.parquet").write_bytes(b"")
    assert existing_items(spark, str(tmp_path)) is None


def test_rebuild_reads_published_items_once(spark, sf_dir, tmp_path, in_job_group):
    """A no-op re-run scans ``out_dir/items`` in one SQL execution: the
    anti-join and ``reused_items`` both come from that one read."""
    out = str(tmp_path / "cube_once")
    obs = synth_observations(spark, sf_dir)
    first = build_cube(spark, obs, out, CubeJobConfig(index_bands={}))
    rec = in_job_group(
        "test_rebuild_reads_published_items_once",
        lambda: build_cube(spark, obs, out, CubeJobConfig(index_bands={})))
    again, plans = rec.result, rec.plans()
    assert again["new_items"] == 0
    assert again["reused_items"] == first["new_items"] > 0
    scans_items = f"Location: InMemoryFileIndex [file:{os.path.join(out, 'items')}]"
    assert len([p for p in plans if scans_items in p]) == 1


def _files_outside_job_log(root):
    return {os.path.relpath(os.path.join(d, f), root)
            for d, _, names in os.walk(root) for f in names
            if os.path.relpath(d, root).split(os.sep)[0] != "job_log"}


def test_noop_rerun_of_identity_cube_republishes_nothing(spark, sf_dir, tmp_path):
    """The identity table a build re-reads as its merge plane holds
    every published unit: a no-op re-run must prune it like the
    observations, for an IDT cube and for ``write_identity``, and
    write no new file (the job log gains its row)."""
    obs = synth_observations(spark, sf_dir)
    tiles = [r.tile_id for r in obs.select("tile_id").distinct()
             .orderBy("tile_id").limit(2).collect()]
    obs = obs.filter(F.col("tile_id").isin(*tiles))
    for name, cfg in [("idt", CubeJobConfig(composite="IDT", index_bands={})),
                      ("ident", CubeJobConfig(write_identity=True,
                                              index_bands={}))]:
        out = str(tmp_path / name)
        assert build_cube(spark, obs, out, cfg)["new_items"] == 4
        files = _files_outside_job_log(out)
        again = build_cube(spark, obs, out, cfg)
        assert (again["new_items"], again["reused_items"]) == (0, 4), name
        assert _files_outside_job_log(out) == files, name
