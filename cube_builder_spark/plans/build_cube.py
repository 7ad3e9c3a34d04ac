"""End-to-end cube build — SURVEY §3.1 as one declarative DAG.

Reference lifecycle (``maestro.py:439-628`` + ``tasks.py``): plan
tile×period mosaics, fan out per-(band, date) warp_merge tasks, barrier
into per-period prepare_blend, blend per band with quality last,
publish items. Four Celery queues and a broker-backed state machine.

Spark-native: the whole thing is one declarative DAG —
    observations → [assign periods] → [merge/mosaic] → [blend]
    → [index bands] → [publish items + partitioned cube write]
with shuffles exactly at the reference's process boundaries (the merge
key and the blend key). The broker/state machine disappears into the
DAG. Incremental re-run (``tasks.py:128-182``'s file-existence reuse)
reads the already-published ``(tile_id, period)`` units once per build
into an in-memory set (``Published``). The file-based builds
(``tools/build_local``, ``tools/build_stac``) use it to prune scenes
from the listing before any scene byte is read, and return at once when
no unit is left to build; ``build_cube`` anti-joins the observations
against the same set, and that anti-join alone decides what gets
published.

Running it takes a handful of actions, each a few Spark jobs: the item
count, the cube and items writes, the COG and quicklook exports and the
job log — about 19 jobs for a build with COG export. Each plane is
computed once per build: the merge plane and the blend plane are
persisted for the build's actions and released at its end, and
planning the index bands starts no job.

Scale notes:
- periods/efficacy tables are tiny → broadcast; observations shuffle
  once on (tile, period, band, pixel) and every blend statistic
  (LCF/MED/TOTALOB/CLEAROB/PROVENANCE/DATASOURCE) comes out of that
  one partitioning.
- the cube parquet is partitioned by (tile_id, period) so downstream
  tile/period predicates are partition pruning, mirroring the
  reference's directory layout (``build_cube_path``).
- quality ordering constraint (quality blend last, tasks.py:406-417)
  disappears: aggregations are side-effect-free.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import date

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import blend, indexes, mosaic
from ..pixelplane import BAND_NODATA, CLEAR_VALUES
from ..timeline import timeline_rows
from ..tables import local_df


@dataclass
class CubeJobConfig:
    cube: str = "SYN-CUBE"
    version: int = 1
    # LCF | MED | IDT. IDT (constants.py:21 IDENTITY) is the
    # reference's identity cube: merges are published as-is with no
    # temporal compositing — "For IDENTITY data cube trigger, just
    # publish" (tasks.py:398-400) — and every non-IDT cube derives
    # from an IDT source (maestro.py:387-388), which is exactly the
    # reuse_from path here.
    composite: str = "LCF"
    quality_band: str = "SCL"
    start: date = date(2020, 1, 1)
    end: date = date(2020, 1, 16)
    schema: str = "continuous"
    unit: str = "day"
    step: int = 8
    index_bands: dict[str, str] = field(
        default_factory=lambda: {"NDVI": "10000 * (B8A - B04) / (B8A + B04)"})
    nodata: int = BAND_NODATA
    force: bool = False
    # C16: when set, scenes blend nearest-to-this-day-of-year first
    # instead of by efficacy (tasks.py:387-395)
    reference_day: int | None = None
    # C15: radiometrically match every date to the period's best date
    # before blending (tasks.py:369-385)
    histogram_match: bool = False
    # K2/K1: publish-stage media exports (processing.py:1291-1324 /
    # image.py:309-378); quicklook uses these band names as R/G/B
    quicklook_bands: tuple[str, str, str] | None = None
    export_tiffs: bool = False
    # K1: publish internally-tiled COGs with overview pyramids (the
    # reference's cog_translate default) instead of striped GeoTIFFs
    cog: bool = True
    cog_tile: int = 256
    # Cross-cube reuse (reference maestro.py:222-259, 359-394 +
    # tasks.py:111-117): read identity merges from another cube's
    # output dir instead of re-merging raw scenes. write_identity
    # persists this cube's merge plane so others can reuse it.
    reuse_from: str | None = None
    write_identity: bool = False
    # Bucketed cube store: additionally persist the composite cube as
    # a bucketBy(tile_id, pixel_id) table so later sessions' per-pixel
    # joins/aggregations (incremental refresh, cross-cube comparison)
    # run with zero Exchange — the on-disk form of the session-cache
    # subset-key partitioning. Value = catalog table name.
    bucketed_table: str | None = None


def periods_df(spark: SparkSession, cfg: CubeJobConfig) -> DataFrame:
    """C17 timeline → periods table (driver-side algebra, tiny)."""
    rows = timeline_rows(cfg.schema, cfg.start, cfg.end, cfg.unit, cfg.step)
    return local_df(spark,
        [(r["period"], r["start_date"], r["end_date"]) for r in rows],
        "period string, period_start date, period_end date")


def assign_periods(obs: DataFrame, periods: DataFrame) -> DataFrame:
    """Tag every observation with its composite period (broadcast
    range join against the tiny periods table; observations with no
    period — outside the timeline — drop, as the reference never
    schedules them)."""
    return obs.join(
        F.broadcast(periods),
        (F.col("date") >= F.col("period_start"))
        & (F.col("date") <= F.col("period_end")))


def merge_stage(obs: DataFrame, cfg: CubeJobConfig,
                share: bool = True) -> DataFrame:
    """C1 mosaic: first-valid-wins across overlapping scenes of one
    (tile, band, date) slot. Input columns: tile_id, pixel_id, band,
    date, period, value, source_idx, scene_order.

    The explicit repartition keys the WHOLE downstream chain: hash
    (tile_id, pixel_id) satisfies the mosaic groupBy, the blend
    stage's spectral x quality join, AND the final blend groupBy
    (each clusters on a superset), so this is the only full-data
    shuffle between raw observations and the finished cube."""
    n = int(obs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    merged = mosaic.mosaic_first_valid(
        obs.repartition(n, "tile_id", "pixel_id"),
        keys=("tile_id", "pixel_id", "band", "date", "period", "doy"))
    out = merged.select(
        "tile_id", "pixel_id", "band", "date", "period", "doy",
        F.col("merge_value").alias("value"),
        F.col("datasource").alias("source_idx"))
    # Physical planning drops this trailing repartition (Spark 4.1.2):
    # its child is already hash-partitioned on the same keys and count,
    # so it adds no Exchange. It does keep a consumer's rename (the
    # blend stage's ``value AS quality``) a separate Project above the
    # mosaic aggregate instead of folding it into the aggregate's
    # results, so dropping it changes p_cube_build_e2e's plan text.
    # Callers that materialize the merge themselves (identity write,
    # persist) pass share=False.
    return out.repartition(n, "tile_id", "pixel_id") if share else out


def histogram_stage(merged: DataFrame, cfg: CubeJobConfig) -> DataFrame:
    """C15 (match_histogram_with_merges, image.py:195-246 +
    tasks.py:369-385): per (tile, period, band), match every non-best
    date's histogram to the highest-efficacy date's, on jointly-valid
    pixels, then write the mapped values back over the source rows.

    Scale shape: the pixel join is keyed by the work-unit key; the CDF
    mapping table is tiny (distinct int16 values per scene) and
    broadcast back, so the only large operations are one keyed join
    and one broadcast-join write-back.
    """
    from ..operators.histogram import apply_histogram_match, histogram_match

    qual = (merged.filter(F.col("band") == cfg.quality_band)
            .select("tile_id", "pixel_id", "date",
                    F.col("value").alias("quality")))
    eff = blend.scene_efficacy(qual)
    best = (merged.select("tile_id", "period", "date").distinct()
            .join(F.broadcast(eff.select("tile_id", "date", "efficacy")),
                  ["tile_id", "date"])
            .groupBy("tile_id", "period")
            .agg(F.max_by("date", F.struct("efficacy", "date")).alias("best_date")))

    spectral = merged.filter(F.col("band") != cfg.quality_band)
    with_best = spectral.join(F.broadcast(best), ["tile_id", "period"])
    ref = (with_best.filter((F.col("date") == F.col("best_date"))
                            & (F.col("value") != cfg.nodata))
           .select("tile_id", "period", "band", "pixel_id",
                   F.col("value").alias("ref_value")))
    src = with_best.filter(F.col("date") != F.col("best_date"))
    joint = (src.filter(F.col("value") != cfg.nodata)
             .join(ref, ["tile_id", "period", "band", "pixel_id"]))

    keys = ["tile_id", "period", "band", "date"]
    mapping = histogram_match(
        joint.select(*keys, "value"),
        joint.select(*keys, F.col("ref_value").alias("value")),
        keys=keys)
    matched = apply_histogram_match(src, mapping, keys=keys)
    # jointly-valid pixels take the mapped value (numpy astype
    # truncation); everything else keeps its original value
    replaced = matched.withColumn(
        "value", F.coalesce(F.col("matched").cast("long"), F.col("value"))
    ).select(*spectral.columns)
    untouched = with_best.filter(
        F.col("date") == F.col("best_date")).select(*spectral.columns)
    qual_rows = merged.filter(F.col("band") == cfg.quality_band)
    return untouched.unionByName(replaced).unionByName(qual_rows)


def blend_stage(merged: DataFrame, cfg: CubeJobConfig) -> DataFrame:
    """C2–C6 per (tile, period, band, pixel): join the quality band
    back onto every spectral band (the reference reads the quality
    raster alongside each band blend, processing.py:744-758), then one
    keyed blend pass.

    No persist here: the quality/spectral branches both sit above the
    merge stage's single repartition Exchange, so within one plan
    Spark's ReuseExchange computes the merge once and replays the
    shuffle output for the second branch. Callers that EXECUTE multiple
    actions own persist/unpersist at the job boundary instead — a
    persist taken here could never be released (the stage returns a
    lazy frame) and would leak across a long session. ``build_cube``
    keeps two caches: the merge plane, which the item count reads
    first, and then, only when there are items to publish, this blend
    plane, which the cube write, the COG export and the quicklooks
    share."""
    qual = (merged.filter(F.col("band") == cfg.quality_band)
            .select("tile_id", "pixel_id", "date", "period",
                    F.col("value").alias("quality")))
    spectral = merged.filter(F.col("band") != cfg.quality_band)
    joined = spectral.join(qual, ["tile_id", "pixel_id", "date", "period"])

    keys = ("tile_id", "period", "band", "pixel_id")
    if cfg.reference_day is not None:
        out = blend.blend_all(
            joined, order_key=blend.temporal_priority_key(cfg.reference_day),
            nodata=cfg.nodata, keys=keys)
    else:
        eff = blend.scene_efficacy(qual)
        with_eff = joined.join(
            F.broadcast(eff.select("tile_id", "date", "efficacy")),
            ["tile_id", "date"])
        out = blend.blend_all(with_eff, order_key=blend.default_order_key(),
                              nodata=cfg.nodata, keys=keys)
    value = F.col("lcf_value") if cfg.composite == "LCF" else \
        F.col("med_value").cast("long")
    return out.select(
        *keys, value.alias("value"),
        "lcf_value", "med_value", "provenance", "datasource",
        "totalob", "clearob")


def index_stage(blended: DataFrame, cfg: CubeJobConfig) -> DataFrame:
    """C14 expression bands: widen the bands the expressions read to
    columns in one keyed aggregation, evaluate each expression via
    Catalyst (F.expr — no Python exec), clamp to int16, and re-attach
    as band rows. Planning it starts no Spark job.

    An index is nodata wherever ANY spectral band of the pixel is
    nodata, read or not, so a flag over all of the pixel's rows sets
    the read bands to nodata before the expressions run. A band that
    no observation carries widens to NULL, so its index is nodata."""
    if not cfg.index_bands:
        return blended
    bands = sorted({b for e in cfg.index_bands.values()
                    for b in indexes.expression_bands(e)})
    flags = blended.groupBy("tile_id", "period", "pixel_id").agg(
        *(F.expr(f"first(value) FILTER (WHERE band = '{b}')").alias(b)
          for b in bands),
        F.max(F.col("value") == cfg.nodata).alias("any_nodata"))
    wide = flags.select(
        "tile_id", "period", "pixel_id",
        *(F.when(F.col("any_nodata"), F.lit(cfg.nodata)).otherwise(F.col(b)).alias(b)
          for b in bands))
    idx = indexes.generate_band_indexes(
        wide, cfg.index_bands, band_cols=bands, nodata=cfg.nodata)
    rows = None
    for name in cfg.index_bands:
        one = idx.select(
            "tile_id", "period", F.lit(name).alias("band"), "pixel_id",
            F.col(name).cast("long").alias("value"),
            F.lit(None).cast("long").alias("lcf_value"),
            F.lit(None).cast("double").alias("med_value"),
            F.lit(None).cast("long").alias("provenance"),
            F.lit(None).cast("long").alias("datasource"),
            F.lit(None).cast("long").alias("totalob"),
            F.lit(None).cast("long").alias("clearob"))
        rows = one if rows is None else rows.unionByName(one)
    return blended.unionByName(rows)


def publish_stage(merged: DataFrame, cfg: CubeJobConfig) -> DataFrame:
    """K4 items: one row per (tile, period) with cloud cover from the
    quality band over the whole period."""
    qual = merged.filter(F.col("band") == cfg.quality_band)
    qa = qual.groupBy("tile_id", "period").agg(
        F.sum(F.col("value").isin(*CLEAR_VALUES).cast("long")).alias("clear"),
        F.sum((~F.col("value").isin(*CLEAR_VALUES) & (F.col("value") != 0)
               & (F.col("value") != cfg.nodata)).cast("long")).alias("not_clear"))
    return qa.select(
        F.concat(F.lit(f"{cfg.cube}_V{cfg.version:03d}_"),
                 F.format_string("%03d", F.col("tile_id").cast("int")),
                 F.lit("_"), F.regexp_replace(F.split("period", "_")[0], "-", "")
                 ).alias("item_id"),
        "tile_id", "period",
        (F.col("not_clear") * 100.0
         / F.nullif(F.col("clear") + F.col("not_clear"), F.lit(0))
         ).alias("cloud_cover"))


def read_reused_identity(spark: SparkSession, cfg: CubeJobConfig,
                         required_bands: list[str]) -> DataFrame:
    """Cross-cube reuse: load another cube's persisted identity merges
    (its ``merge_stage`` output) instead of re-merging raw scenes.

    Mirrors the reference's validations (maestro.py:359-394): the
    reused cube must exist, must carry every band this cube needs
    (band-subset check, maestro.py:228-239), and ``force`` is
    disallowed — a forced rebuild would have to regenerate merges the
    reusing cube doesn't own. Reading prunes to the needed bands, so a
    10-band identity cube feeding a 2-band derived cube scans 2 bands'
    partitions, not 10."""
    import os as _os
    path = _os.path.join(cfg.reuse_from, "identity")
    if not _os.path.exists(path):
        raise RuntimeError(f"Reused data cube at {cfg.reuse_from!r} has no "
                           "identity merges (build it with write_identity=True)")
    if cfg.force:
        raise RuntimeError("Cannot use force on a data cube derived from "
                           f"{cfg.reuse_from!r}")
    identity = spark.read.parquet(path)
    have = {r.band for r in identity.select("band").distinct().collect()}
    missing = set(required_bands) - have
    if missing:
        raise RuntimeError(
            f"Reused data cube {cfg.reuse_from!r} must have all bands of "
            f"this cube; missing {sorted(missing)}")
    out = identity.filter(F.col("band").isin(*required_bands))
    # partition-column round-trip types (tile_id int, period str) back
    # to the merge contract
    return out.select(
        F.col("tile_id").cast("long").alias("tile_id"), "pixel_id", "band",
        "date", "period", "doy", "value", "source_idx")


def existing_items(spark: SparkSession, out_dir: str) -> DataFrame | None:
    p = os.path.join(out_dir, "items")
    if not os.path.exists(p):
        return None
    try:
        return spark.read.parquet(p)
    except AnalysisException:   # no readable parquet, e.g. a killed write's _temporary
        return None


@dataclass(frozen=True)
class Published:
    """The ``(tile_id, period)`` units ``out_dir/items`` already holds,
    read into an in-memory set once per build. ``n_items`` counts the
    items rows: the summary's ``reused_items``. Units with a NULL tile
    are left out, as no equi-join can match them."""
    units: frozenset = frozenset()
    n_items: int = 0

    @classmethod
    def read(cls, spark: SparkSession, out_dir: str,
             cfg: CubeJobConfig) -> "Published":
        """One collect of the items table. Under ``cfg.force``, or when
        no readable items exist, nothing is read and nothing counts as
        published."""
        done = None if cfg.force else existing_items(spark, out_dir)
        if done is None:
            return cls()
        rows = done.select("tile_id", "period").collect()
        return cls(frozenset((r.tile_id, r.period) for r in rows
                             if r.tile_id is not None), len(rows))

    def pending(self, cfg: CubeJobConfig, scenes, tiles=None) -> list:
        """Keys of the scenes a rebuild still has to read, from the
        listing alone. ``scenes`` holds ``(key, date, tile_id)`` rows.

        A scene is kept when some unit it could produce is not
        published. It could produce ``(t, p)`` for every period ``p``
        holding its date, with ``t`` every grid tile in ``tiles`` (warp
        path) or else its own tile (decode path, an exact
        ``(tile, period)`` prune). A scene with no date, or with no tile
        on the decode path, is kept. The prune keeps at least every
        scene the ``build_cube`` anti-join would keep: that anti-join
        decides what gets published. With ``reuse_from`` the merges come
        from another cube, not from these scenes, so every scene is
        kept."""
        if cfg.reuse_from:
            return [key for key, _, _ in scenes]
        periods = timeline_rows(cfg.schema, cfg.start, cfg.end, cfg.unit, cfg.step)
        keep = []
        for key, day, tile in scenes:
            owners = tiles if tiles is not None else (tile,)
            units = {(t, r["period"]) for r in periods
                     if day is not None and r["start_date"] <= day <= r["end_date"]
                     for t in owners}
            if day is None or None in owners or not units <= self.units:
                keep.append(key)
        return keep

    def prune(self, df: DataFrame) -> DataFrame:
        """Drop the rows of published units (broadcast anti-join
        against the set, a ``LocalRelation``)."""
        if not self.units:
            return df
        done = local_df(df.sparkSession, sorted(self.units),
                        "tile_id long, period string")
        return df.join(F.broadcast(done), ["tile_id", "period"], "left_anti")


def skip_build(spark: SparkSession, out_dir: str, cfg: CubeJobConfig,
               published: Published) -> dict:
    """Finish a build that has nothing to publish: its summary and its
    job-log row."""
    summary = _summary(out_dir, cfg, 0, published)
    _append_job_log(spark, out_dir, cfg, summary)
    return summary


def _summary(out_dir: str, cfg: CubeJobConfig, new_items: int,
             published: Published) -> dict:
    # tasks.py:398-400: identity cubes skip blend — the published
    # scenes are the merges themselves
    return {"cube_path": os.path.join(
                out_dir, "identity" if cfg.composite == "IDT" else "cube"),
            "items_path": os.path.join(out_dir, "items"),
            "new_items": new_items, "reused_items": published.n_items}


def build_cube(spark: SparkSession, obs: DataFrame, out_dir: str,
               cfg: CubeJobConfig | None = None,
               published: Published | None = None) -> dict:
    """Run the full pipeline; returns a small summary dict.

    ``obs`` columns: tile_id, pixel_id, band, date, doy, value,
    source_idx, scene_order. Incremental: (tile, period) units already
    in ``out_dir/items`` are pruned from the plan unless cfg.force —
    the Spark translation of the reference's merge-file reuse
    (tasks.py:128-182) at the publish granularity. ``published`` is
    that set when the caller has already read it (``Published.read``);
    otherwise it is read here.
    """
    cfg = cfg or CubeJobConfig()
    if published is None:
        published = Published.read(spark, out_dir, cfg)
    periods = periods_df(spark, cfg)
    # IDT = identity cube: its OUTPUT is the merge plane, so the
    # identity write is implied and the blend plane is never built
    identity_cube = cfg.composite == "IDT"
    if identity_cube and cfg.reuse_from:
        raise RuntimeError("An identity (IDT) cube cannot reuse another "
                           "cube's merges — it IS the merge source")
    write_identity = cfg.write_identity or identity_cube

    if cfg.reuse_from:
        required = [r.band for r in obs.select("band").distinct().collect()]
        merged = published.prune(read_reused_identity(spark, cfg, required))
    else:
        tagged = published.prune(assign_periods(obs, periods))
        # persisted below (or written as the identity table): no
        # branch-sharing exchange
        merged = merge_stage(tagged, cfg, share=False)
        if write_identity:
            from ..streaming.incremental import upsert_partitioned
            upsert_partitioned(merged, os.path.join(out_dir, "identity"))
            # the identity table holds every published unit too: prune
            # it like the observations, or a re-run republishes them
            merged = published.prune(spark.read.parquet(os.path.join(out_dir, "identity")).select(
                F.col("tile_id").cast("long").alias("tile_id"), "pixel_id",
                "band", "date", "period", "doy", "value", "source_idx"))
    # persist the merge boundary for the duration of THIS job's actions
    # only, released in the finally — the persist→finally-unpersist
    # discipline of streaming/incremental.py, so a full registry run
    # ends with zero cached RDDs. Items are counted first, off the merge
    # cache; only when there is something to publish is the blend plane
    # planned, and it is persisted next to the merge cache, so the cube
    # write, the COG export and the quicklooks all read one copy.
    caches = []
    if cfg.histogram_match:
        merged = merged.persist()
        caches.append(merged)
        merged = histogram_stage(merged, cfg)
    merged = merged.persist()
    caches.append(merged)
    try:
        items = publish_stage(merged, cfg)
        n_items = items.count()
        if not n_items:
            return skip_build(spark, out_dir, cfg, published)
        summary = _summary(out_dir, cfg, n_items, published)
        # dynamic partition overwrite, not append: a forced rebuild
        # (or an unreadable items directory) re-plans already-built
        # units — append would duplicate every pixel and item row
        from ..streaming.incremental import upsert_partitioned
        cube = None
        if not identity_cube:
            blended = blend_stage(merged, cfg).persist()
            caches.append(blended)
            cube = index_stage(blended, cfg)
            upsert_partitioned(cube, summary["cube_path"])
        upsert_partitioned(items, summary["items_path"])
        if cube is not None and cfg.bucketed_table:
            from ..sinks.bucketed import write_bucketed_cube
            n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
            write_bucketed_cube(spark.read.parquet(summary["cube_path"]),
                                cfg.bucketed_table,
                                os.path.join(out_dir, "cube_bucketed"),
                                n_buckets=n_buckets)
            summary["bucketed_table"] = cfg.bucketed_table
        if cube is not None and cfg.quicklook_bands:
            summary["quicklooks"] = _export_quicklooks(cube, out_dir, cfg)
        if cube is not None and cfg.export_tiffs:
            from ..sinks.cog import export_band_tiffs
            manifest = export_band_tiffs(cube, os.path.join(out_dir, "tiff"),
                                         cog=cfg.cog, cog_tile=cfg.cog_tile)
            summary["tiffs"] = manifest.count()
        _append_job_log(spark, out_dir, cfg, summary)
        return summary
    finally:
        for c in caches:
            c.unpersist()


def _export_quicklooks(cube: DataFrame, out_dir: str, cfg: CubeJobConfig) -> int:
    """K2 in the publish stage: one PNG per (tile, period) from the
    blended composite's R/G/B bands, written under out_dir/quicklook.

    The files are written EXECUTOR-side (mapInPandas over the encoded
    rows, same pattern as sinks/cog.export_band_tiffs); only the tiny
    manifest reaches the driver. Collecting the payload bytes would
    funnel every PNG through driver memory — a driver OOM at scale."""
    import pandas as pd

    from ..sinks.quicklook import quicklook_png, rgb_scaled
    r, g, b = cfg.quicklook_bands
    wide = (cube.filter(F.col("band").isin(r, g, b))
            .groupBy("tile_id", "period", "pixel_id")
            .pivot("band", sorted({r, g, b})).agg(F.first("value")))
    scaled = rgb_scaled(wide, r, g, b, nodata=cfg.nodata)
    pngs = quicklook_png(scaled)
    qdir = os.path.join(out_dir, "quicklook")
    os.makedirs(qdir, exist_ok=True)

    def write_files(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                path = os.path.join(qdir, f"t{int(row.tile_id):03d}_{row.period}.png")
                with open(path, "wb") as f:
                    f.write(bytes(row.png))
                out.append({"tile_id": int(row.tile_id), "period": row.period,
                            "path": path, "n_bytes": len(row.png)})
            if out:
                yield pd.DataFrame(out)

    manifest = pngs.mapInPandas(
        write_files, "tile_id long, period string, path string, n_bytes long")
    return manifest.count()


def _append_job_log(spark: SparkSession, out_dir: str, cfg: CubeJobConfig,
                    summary: dict) -> None:
    """O5 (tasks.py:549-574, controller.py:385-417): the async-status
    surface. The broker/DB state machine becomes an append-only job-log
    table next to the cube; ``job_status`` reads it back."""
    import time
    row = [(f"{cfg.cube}-{cfg.version}", cfg.composite,
            float(time.time()), summary["new_items"], summary["reused_items"],
            "done" if summary["new_items"] or summary["reused_items"] else "empty")]
    df = local_df(spark,
        row, "cube string, composite string, ts double, "
             "new_items long, reused_items long, status string")
    df.write.mode("append").parquet(os.path.join(out_dir, "job_log"))


def job_status(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest run per cube (R3-style min/max over the log — the
    reference's /cube-status endpoint against the activity table)."""
    log = spark.read.parquet(os.path.join(out_dir, "job_log"))
    latest = log.groupBy("cube").agg(
        F.max("ts").alias("ts"),
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("new_items").alias("total_items"))
    return latest.join(log, ["cube", "ts"]).select(
        "cube", "composite", "status", "n_runs", "total_items",
        "new_items", "reused_items")
