"""Raster-plane oracle queries: pixel plane → blend/mask/mosaic/etc.

Each entry wires the deterministic pixel plane (``pixelplane.py``) into
one operator from SURVEY.md §2.3 and carries a DuckDB oracle whose CTE
re-derives the identical plane — so the semantic heart of the engine
(LCF/MED compositing, masks, stats, mosaic, rescale, expressions) is
hash-checked end-to-end, not just unit-tested.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from .operators import blend, indexes, masking, mosaic, rescale
from .pixelplane import BAND_NODATA, N_DATES, PIXELS_SQL, pixel_plane
from .functions.numeric import round_half_up_long
from .tables import load_tables
from .queries import register

REGISTRY: list[tuple[str, object, str | None]] = []


# Shared oracle fragments -----------------------------------------------------

_EFF_SQL = """
eff AS (
  SELECT tile_id, date,
         100.0 * sum(CASE WHEN quality IN (4,5,6) THEN 1 ELSE 0 END) / count(*) AS efficacy
  FROM pixels GROUP BY tile_id, date
)
"""

_LCF_RANKED_SQL = """
ranked AS (
  SELECT p.tile_id, p.pixel_id, p.value, p.doy, p.source_idx,
         p.quality IN (4,5,6) AS is_clear,
         p.value <> -9999 AS is_valid,
         row_number() OVER (PARTITION BY p.tile_id, p.pixel_id, p.quality IN (4,5,6)
                            ORDER BY e.efficacy DESC, p.date DESC) AS rn_clear,
         row_number() OVER (PARTITION BY p.tile_id, p.pixel_id, p.value <> -9999
                            ORDER BY e.efficacy DESC, p.date DESC) AS rn_valid
  FROM pixels p JOIN eff e ON p.tile_id = e.tile_id AND p.date = e.date
)
"""


# C11 -------------------------------------------------------------------------

@register("c11_scene_efficacy", f"""
WITH {PIXELS_SQL}
SELECT tile_id, date, count(*) AS total_pixels,
       -- CAST: DuckDB sum() over ints is HUGEINT -> pandas float64,
       -- which hash-diverges from Spark's int64 even on equal values
       CAST(sum(CASE WHEN quality IN (4,5,6) THEN 1 ELSE 0 END) AS BIGINT) AS clear_pixels,
       CAST(sum(CASE WHEN quality IN (2,3,7,8,9,10,11) THEN 1 ELSE 0 END) AS BIGINT) AS not_clear_pixels,
       100.0 * sum(CASE WHEN quality IN (4,5,6) THEN 1 ELSE 0 END) / count(*) AS efficacy,
       100.0 * sum(CASE WHEN quality IN (2,3,7,8,9,10,11) THEN 1 ELSE 0 END)
         / NULLIF(sum(CASE WHEN quality IN (4,5,6) THEN 1 ELSE 0 END)
                  + sum(CASE WHEN quality IN (2,3,7,8,9,10,11) THEN 1 ELSE 0 END), 0) AS cloud_ratio
FROM pixels GROUP BY tile_id, date
""")
def c11_scene_efficacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11 _qa_statistics (processing.py:1386-1448)."""
    return blend.scene_efficacy(pixel_plane(spark, sf_dir))


# C2 + C6 ---------------------------------------------------------------------

@register("c2_blend_lcf", f"""
WITH {PIXELS_SQL}, {_EFF_SQL}, {_LCF_RANKED_SQL}
SELECT tile_id, pixel_id,
       coalesce(max(CASE WHEN is_clear AND rn_clear = 1 THEN value END),
                max(CASE WHEN is_valid AND rn_valid = 1 THEN value END), -9999) AS lcf_value,
       CAST(coalesce(max(CASE WHEN is_clear AND rn_clear = 1 THEN doy END),
                     max(CASE WHEN is_valid AND rn_valid = 1 THEN doy END), -1) AS BIGINT) AS provenance,
       CAST(coalesce(max(CASE WHEN is_clear AND rn_clear = 1 THEN source_idx END),
                     max(CASE WHEN is_valid AND rn_valid = 1 THEN source_idx END), 255) AS BIGINT) AS datasource
FROM ranked GROUP BY tile_id, pixel_id
""")
def c2_blend_lcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2 LCF best-pixel + C6 DATASOURCE (processing.py:541-967):
    first clear wins, else first valid, else nodata; PROVENANCE=DOY."""
    return blend.blend_lcf(pixel_plane(spark, sf_dir))


# C3 --------------------------------------------------------------------------

@register("c3_blend_med", f"""
WITH {PIXELS_SQL}
SELECT tile_id, pixel_id,
       coalesce(median(CASE WHEN quality IN (4,5,6) THEN CAST(value AS DOUBLE) END),
                -9999.0) AS med_value
FROM pixels GROUP BY tile_id, pixel_id
""")
def c3_blend_med(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3 MED: exact masked median (processing.py:890-894)."""
    return blend.blend_med(pixel_plane(spark, sf_dir))


# C4 + C5 ---------------------------------------------------------------------

@register("c4c5_observation_counts", f"""
WITH {PIXELS_SQL}
SELECT tile_id, pixel_id,
       CAST(sum(CASE WHEN quality <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS totalob,
       CAST(sum(CASE WHEN quality IN (4,5,6) THEN 1 ELSE 0 END) AS BIGINT) AS clearob
FROM pixels GROUP BY tile_id, pixel_id
""")
def c4c5_observation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 TOTALOB + C5 CLEAROB (processing.py:826-833,896-899)."""
    return blend.observation_counts(pixel_plane(spark, sf_dir))


# C16 -------------------------------------------------------------------------

@register("c16_temporal_priority_lcf", f"""
WITH {PIXELS_SQL},
ranked AS (
  SELECT tile_id, pixel_id, value, doy,
         quality IN (4,5,6) AS is_clear,
         value <> -9999 AS is_valid,
         row_number() OVER (PARTITION BY tile_id, pixel_id, quality IN (4,5,6)
                            ORDER BY abs(doy - 8) ASC, date ASC) AS rn_clear,
         row_number() OVER (PARTITION BY tile_id, pixel_id, value <> -9999
                            ORDER BY abs(doy - 8) ASC, date ASC) AS rn_valid
  FROM pixels
)
SELECT tile_id, pixel_id,
       coalesce(max(CASE WHEN is_clear AND rn_clear = 1 THEN value END),
                max(CASE WHEN is_valid AND rn_valid = 1 THEN value END), -9999) AS tp_value,
       CAST(coalesce(max(CASE WHEN is_clear AND rn_clear = 1 THEN doy END),
                     max(CASE WHEN is_valid AND rn_valid = 1 THEN doy END), -1) AS BIGINT) AS tp_provenance
FROM ranked GROUP BY tile_id, pixel_id
""")
def c16_temporal_priority_lcf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C16 (timeline.py:208-249): LCF with nearest-to-reference-day
    scene ordering (reference day 8) instead of efficacy."""
    out = blend.blend_lcf(pixel_plane(spark, sf_dir),
                          order_key=blend.temporal_priority_key(8))
    return out.select("tile_id", "pixel_id",
                      F.col("lcf_value").alias("tp_value"),
                      F.col("provenance").alias("tp_provenance"))


# C7 --------------------------------------------------------------------------

@register("c7_mask_classify", f"""
WITH {PIXELS_SQL}
SELECT tile_id,
       CASE WHEN quality IN (4,5,6) THEN 'clear'
            WHEN quality IN (2,3,7,8,9,10,11) THEN 'not_clear'
            WHEN quality IN (1) THEN 'saturated'
            WHEN quality = 0 THEN 'nodata'
            ELSE 'other' END AS mask_class,
       count(*) AS n
FROM pixels GROUP BY tile_id, mask_class
""")
def c7_mask_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7 parse_mask classification (processing.py:1327-1383) with the
    Sen2Cor SCL config."""
    px = pixel_plane(spark, sf_dir)
    cls = masking.classify_mask(F.col("quality"), [4, 5, 6],
                                [2, 3, 7, 8, 9, 10, 11], [1], 0)
    return (px.withColumn("mask_class", cls)
            .groupBy("tile_id", "mask_class").agg(F.count(F.lit(1)).alias("n")))


# C8 --------------------------------------------------------------------------

_QA_SQL = "(l_partkey * 31 + l_orderkey) % 65536"

@register("c8_qa_pixel_clear", f"""
WITH qa_plane AS (
  SELECT l_orderkey % 8 AS tile_id, {_QA_SQL} AS qa FROM lineitem
)
SELECT tile_id, count(*) AS n_total,
       CAST(sum(CASE WHEN qa <> 1
                 AND NOT ( ((qa >> 1) & 1) > 0 OR ((qa >> 2) & 1) > 0
                        OR ((qa >> 3) & 1) > 0 OR ((qa >> 4) & 1) > 0
                        OR ((qa >> 8) & 3) >= 2 OR ((qa >> 10) & 3) >= 2 )
                 AND ( ((qa >> 6) & 1) > 0 OR ((qa >> 7) & 1) > 0 )
            THEN 1 ELSE 0 END) AS BIGINT) AS n_clear,
       CAST(sum(CASE WHEN qa = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_nodata
FROM qa_plane GROUP BY tile_id
""")
def c8_qa_pixel_clear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 Landsat C2 QA_PIXEL bitwise clear test with MEDIUM cloud and
    cloud-shadow confidence rules (image.py:434-608)."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    df = li.select((F.col("l_orderkey") % 8).alias("tile_id"),
                   ((F.col("l_partkey") * 31 + F.col("l_orderkey")) % 65536).alias("qa"))
    clear = masking.qa_pixel_clear(F.col("qa"), clear_bits=[6, 7],
                                   not_clear_bits=[1, 2, 3, 4], nodata=1,
                                   cloud_conf_min=masking.MEDIUM,
                                   shadow_conf_min=masking.MEDIUM)
    return (df.groupBy("tile_id")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(clear.cast("long")).alias("n_clear"),
                 F.sum((F.col("qa") == 1).cast("long")).alias("n_nodata")))


# C9 --------------------------------------------------------------------------

@register("c9_radsat_saturation", """
WITH radsat_plane AS (
  SELECT l_orderkey % 8 AS tile_id,
         (l_suppkey * 17 + l_partkey) % 4096 AS radsat
  FROM lineitem
)
SELECT tile_id, count(*) AS n_total,
       CAST(sum(CASE WHEN ((radsat >> 1) & 127) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated
FROM radsat_plane GROUP BY tile_id
""")
def c9_radsat_saturation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9 radsat_extract_bits(b, 1, 7) (image.py:249-290)."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    df = li.select((F.col("l_orderkey") % 8).alias("tile_id"),
                   ((F.col("l_suppkey") * 17 + F.col("l_partkey")) % 4096).alias("radsat"))
    return (df.groupBy("tile_id")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(masking.radsat_saturated(F.col("radsat")).cast("long")).alias("n_saturated")))


# C10 -------------------------------------------------------------------------

_BANDS_SQL = """
bands AS (
  SELECT l_orderkey % 8 AS tile_id,
         (l_suppkey + l_linenumber) % 12 AS quality,
         CASE WHEN l_quantity < 3 THEN -9999
              ELSE CAST(round(l_extendedprice * 100) AS BIGINT) % 20001 - 10000 END AS b_red,
         CASE WHEN l_tax > 0.07 THEN -9999
              ELSE (l_partkey * 11 + l_orderkey) % 20001 - 10000 END AS b_nir
  FROM lineitem
)
"""

@register("c10_post_process_quality", f"""
WITH {_BANDS_SQL}
SELECT tile_id, count(*) AS n_total,
       CAST(sum(CASE WHEN (b_red = -9999 OR b_nir = -9999) THEN 1 ELSE 0 END) AS BIGINT) AS n_forced,
       CAST(sum(CASE WHEN (CASE WHEN b_red = -9999 OR b_nir = -9999 THEN 1 ELSE quality END) = 1
            THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated_after
FROM bands GROUP BY tile_id
""")
def c10_post_process_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10 post_processing_quality (processing.py:446-518): any band
    nodata forces quality to saturated (Sentinel value 1)."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    df = li.select(
        (F.col("l_orderkey") % 8).alias("tile_id"),
        ((F.col("l_suppkey") + F.col("l_linenumber")) % 12).alias("quality"),
        F.when(F.col("l_quantity") < 3, F.lit(BAND_NODATA))
         .otherwise(round_half_up_long(F.col("l_extendedprice"), 100) % 20001 - 10000)
         .alias("b_red"),
        F.when(F.col("l_tax") > 0.07, F.lit(BAND_NODATA))
         .otherwise((F.col("l_partkey") * 11 + F.col("l_orderkey")) % 20001 - 10000)
         .alias("b_nir"),
    )
    forced = (F.col("b_red") == BAND_NODATA) | (F.col("b_nir") == BAND_NODATA)
    out = masking.post_process_quality(df, ["b_red", "b_nir"],
                                       band_nodata=BAND_NODATA, saturated_value=1)
    return (out.withColumn("forced", forced)
            .groupBy("tile_id")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(F.col("forced").cast("long")).alias("n_forced"),
                 F.sum((F.col("quality") == 1).cast("long")).alias("n_saturated_after")))


# Masking suite (C7 + C8 pixel/cirrus/expression + C9 + C10) ------------------
# One graded row for the whole masking family: each variant unpivots to
# the common (variant, tile_id, n_total, m1, m2) shape. Per-variant
# meaning: c7:<class> n_total=count; c8* m1=n_clear, m2=n_nodata
# (pixel only); c9 m1=n_saturated; c10 m1=n_forced, m2=n_saturated_after.
# The individual queries stay registered (past the graded window) for
# local verification of each operator in isolation.

_C8_CLEAR_SQL = """qa <> 1
                 AND NOT ( ((qa >> 1) & 1) > 0 OR ((qa >> 2) & 1) > 0
                        OR ((qa >> 3) & 1) > 0 OR ((qa >> 4) & 1) > 0
                        OR ((qa >> 8) & 3) >= 2 OR ((qa >> 10) & 3) >= 2 )
                 AND ( ((qa >> 6) & 1) > 0 OR ((qa >> 7) & 1) > 0 )"""

@register("c_masking_suite", f"""
WITH {PIXELS_SQL},
qa_plane AS (
  SELECT l_orderkey % 8 AS tile_id, {_QA_SQL} AS qa,
         l_suppkey % 3 AS datasource
  FROM lineitem
),
radsat_plane AS (
  SELECT l_orderkey % 8 AS tile_id,
         (l_suppkey * 17 + l_partkey) % 4096 AS radsat
  FROM lineitem
),
{_BANDS_SQL.strip().lstrip()}
SELECT 'c7:' || CASE WHEN quality IN (4,5,6) THEN 'clear'
                     WHEN quality IN (2,3,7,8,9,10,11) THEN 'not_clear'
                     WHEN quality IN (1) THEN 'saturated'
                     WHEN quality = 0 THEN 'nodata'
                     ELSE 'other' END AS variant,
       tile_id, count(*) AS n_total,
       CAST(NULL AS BIGINT) AS m1, CAST(NULL AS BIGINT) AS m2
FROM pixels GROUP BY variant, tile_id
UNION ALL
SELECT 'c8pixel', tile_id, count(*),
       CAST(sum(CASE WHEN {_C8_CLEAR_SQL} THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN qa = 1 THEN 1 ELSE 0 END) AS BIGINT)
FROM qa_plane GROUP BY tile_id
UNION ALL
SELECT 'c8cirrus', tile_id, count(*),
       CAST(sum(CASE WHEN {_C8_CLEAR_SQL}
                 AND NOT ( ((qa >> 14) & 3) >= 2 AND datasource IN (0, 1) )
            THEN 1 ELSE 0 END) AS BIGINT),
       CAST(NULL AS BIGINT)
FROM qa_plane GROUP BY tile_id
UNION ALL
SELECT 'c8expr', tile_id, count(*),
       CAST(sum(CASE WHEN {_C8_CLEAR_SQL}
                 AND NOT ( ((qa >> 12) & 3) = 3 )
                 AND NOT ( ((qa >> 14) & 3) >= 2 AND datasource IN (0, 1) )
            THEN 1 ELSE 0 END) AS BIGINT),
       CAST(NULL AS BIGINT)
FROM qa_plane GROUP BY tile_id
UNION ALL
SELECT 'c9', tile_id, count(*),
       CAST(sum(CASE WHEN ((radsat >> 1) & 127) > 0 THEN 1 ELSE 0 END) AS BIGINT),
       CAST(NULL AS BIGINT)
FROM radsat_plane GROUP BY tile_id
UNION ALL
SELECT 'c10', tile_id, count(*),
       CAST(sum(CASE WHEN (b_red = -9999 OR b_nir = -9999) THEN 1 ELSE 0 END) AS BIGINT),
       CAST(sum(CASE WHEN (CASE WHEN b_red = -9999 OR b_nir = -9999 THEN 1 ELSE quality END) = 1
            THEN 1 ELSE 0 END) AS BIGINT)
FROM bands GROUP BY tile_id
""")
def c_masking_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7+C8+C9+C10 as one graded suite. The c8expr variant drives the
    clear test through the reference's expression-string surface
    (QAConfidence, image.py:434-511): 'cloud >= MEDIUM',
    'cloud_shadow >= MEDIUM', 'snow == HIGH', 'cirrus >= MEDIUM'
    (cirrus gated to OLI datasources), compiled to Catalyst predicates
    by masking.compile_confidence_expression."""
    nul = F.lit(None).cast("long")

    c7 = c7_mask_classify(spark, sf_dir).select(
        F.concat(F.lit("c7:"), F.col("mask_class")).alias("variant"),
        "tile_id", F.col("n").alias("n_total"),
        nul.alias("m1"), nul.alias("m2"))
    c8p = c8_qa_pixel_clear(spark, sf_dir).select(
        F.lit("c8pixel").alias("variant"), "tile_id", "n_total",
        F.col("n_clear").alias("m1"), F.col("n_nodata").alias("m2"))
    c8c = c8_qa_cirrus_oli(spark, sf_dir).select(
        F.lit("c8cirrus").alias("variant"), "tile_id", "n_total",
        F.col("n_clear").alias("m1"), nul.alias("m2"))

    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    qa_plane = li.select(
        (F.col("l_orderkey") % 8).alias("tile_id"),
        ((F.col("l_partkey") * 31 + F.col("l_orderkey")) % 65536).alias("qa"),
        (F.col("l_suppkey") % 3).alias("datasource"))
    clear = masking.qa_pixel_clear_rules(
        F.col("qa"), clear_bits=[6, 7], not_clear_bits=[1, 2, 3, 4], nodata=1,
        cloud="cloud >= MEDIUM", cloud_shadow="cloud_shadow >= MEDIUM",
        snow="snow == HIGH", cirrus="cirrus >= MEDIUM",
        datasource=F.col("datasource"), oli_sources=[0, 1])
    c8e = (qa_plane.groupBy("tile_id")
           .agg(F.count(F.lit(1)).alias("n_total"),
                F.sum(clear.cast("long")).alias("m1"))
           .select(F.lit("c8expr").alias("variant"), "tile_id", "n_total",
                   "m1", nul.alias("m2")))

    c9 = c9_radsat_saturation(spark, sf_dir).select(
        F.lit("c9").alias("variant"), "tile_id", "n_total",
        F.col("n_saturated").alias("m1"), nul.alias("m2"))
    c10 = c10_post_process_quality(spark, sf_dir).select(
        F.lit("c10").alias("variant"), "tile_id", "n_total",
        F.col("n_forced").alias("m1"), F.col("n_saturated_after").alias("m2"))
    return c7.unionByName(c8p).unionByName(c8c).unionByName(c8e) \
             .unionByName(c9).unionByName(c10)


# C12 + C13 merged ------------------------------------------------------------

@register("c12c13_rescale", """
WITH raw AS (
  SELECT l_orderkey, l_linenumber,
         CAST(round(l_extendedprice * 100) AS BIGINT) % 65535 + 1 AS v12,
         CAST(round(l_extendedprice * 100) AS BIGINT) % 20001 - 10000 AS v13
  FROM lineitem
)
SELECT 'c12' AS variant, l_orderkey, l_linenumber,
       CAST(CAST(trunc(least(greatest(v12 * 2.75e-5 + -2e-1, -32768e0), 32767e0) / 1e-4) AS BIGINT)
            AS DOUBLE) AS out_value
FROM raw
UNION ALL
SELECT 'c13', l_orderkey, l_linenumber,
       (least(greatest(CAST(v13 AS DOUBLE), 0e0), 1e4) - 0e0) / 1e4 * 255e0 + 0e0
FROM raw
""")
def c12c13_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 (Landsat C2 radiometric rescale) + C13 (linear quicklook
    scale) as one graded suite; out_value is DOUBLE in both variants
    (exact for C12's integer outputs)."""
    c12 = c12_rescale_landsat_c2(spark, sf_dir).select(
        F.lit("c12").alias("variant"), "l_orderkey", "l_linenumber",
        F.col("rescaled").cast("double").alias("out_value"))
    c13 = c13_linear_scale(spark, sf_dir).select(
        F.lit("c13").alias("variant"), "l_orderkey", "l_linenumber",
        F.col("scaled").alias("out_value"))
    return c12.unionByName(c13)


# C12 / C13 -------------------------------------------------------------------

@register("c12_rescale_landsat_c2", """
WITH raw AS (
  SELECT l_orderkey, l_linenumber,
         CAST(round(l_extendedprice * 100) AS BIGINT) % 65535 + 1 AS v
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       -- e-notation forces DOUBLE literals: DuckDB parses 0.0000275 as
       -- DECIMAL and exact-decimal math diverges from Spark's doubles
       CAST(trunc(least(greatest(v * 2.75e-5 + -2e-1, -32768e0), 32767e0) / 1e-4) AS BIGINT)
         AS rescaled
FROM raw
""")
def c12_rescale_landsat_c2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 rescale (image.py:611-662): Landsat C2 uint16 →
    0.0000275/-0.2 reflectance → 1/10000 scale, int16 dtype clamp."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    v = (round_half_up_long(F.col("l_extendedprice"), 100) % 65535 + 1)
    return li.select(
        "l_orderkey", "l_linenumber",
        rescale.rescale(v, multiplier=0.0000275, new_scale=0.0001,
                        origin_additive=-0.2, dtype="int16").alias("rescaled"))


@register("c13_linear_scale", """
SELECT l_orderkey, l_linenumber,
       (least(greatest(CAST(round(l_extendedprice * 100) AS BIGINT) % 20001 - 10000, 0e0), 1e4) - 0e0)
         / 1e4 * 255e0 + 0e0 AS scaled
FROM lineitem
""")
def c13_linear_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13 linear_raster_scale (image.py:711-737): quicklook 0-255 map."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    v = (round_half_up_long(F.col("l_extendedprice"), 100) % 20001 - 10000)
    return li.select("l_orderkey", "l_linenumber",
                     rescale.linear_scale(v, (0.0, 10000.0), (0.0, 255.0)).alias("scaled"))


# C14 -------------------------------------------------------------------------

_IDX_BANDS_SQL = """
idx_bands AS (
  SELECT l_orderkey, l_linenumber,
         CASE WHEN l_quantity < 3 THEN -9999
              ELSE CAST(round(l_extendedprice * 100) AS BIGINT) % 20001 - 10000 END AS B04,
         CASE WHEN l_tax > 0.07 THEN -9999
              ELSE (l_partkey * 11 + l_orderkey) % 20001 - 10000 END AS B8A,
         (l_suppkey * 23 + l_partkey) % 20001 - 10000 AS B02
  FROM lineitem
)
"""

@register("c14_band_indexes", f"""
WITH {_IDX_BANDS_SQL}
SELECT l_orderkey, l_linenumber,
       -- undefined pixels (zero denominator) -> nodata BEFORE the
       -- clamp: greatest/least skip NULLs in both engines, so a
       -- clamped NULL would resurrect as the dtype lower bound
       CASE WHEN B8A = -9999 OR B04 = -9999 THEN -9999
            WHEN B8A + B04 = 0 THEN -9999
            ELSE CAST(trunc(least(greatest(
                   10000.0*(B8A-B04)/(B8A+B04), -32768.0), 32767.0)) AS BIGINT)
       END AS NDVI,
       CASE WHEN B8A = -9999 OR B04 = -9999 OR B02 = -9999 THEN -9999
            WHEN B8A + 6.0*B04 - 7.5*B02 + 10000.0 = 0 THEN -9999
            ELSE CAST(trunc(least(greatest(
                   10000.0*2.5*(B8A-B04)/(B8A+6.0*B04-7.5*B02+10000.0), -32768.0), 32767.0)) AS BIGINT)
       END AS EVI
FROM idx_bands
""")
def c14_band_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14 expression bands (index_generator.py:34-127): the fixtures'
    NDVI/EVI formulas compiled to Catalyst expressions via F.expr."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    df = li.select(
        "l_orderkey", "l_linenumber",
        F.when(F.col("l_quantity") < 3, F.lit(BAND_NODATA))
         .otherwise(round_half_up_long(F.col("l_extendedprice"), 100) % 20001 - 10000)
         .alias("B04"),
        F.when(F.col("l_tax") > 0.07, F.lit(BAND_NODATA))
         .otherwise((F.col("l_partkey") * 11 + F.col("l_orderkey")) % 20001 - 10000)
         .alias("B8A"),
        ((F.col("l_suppkey") * 23 + F.col("l_partkey")) % 20001 - 10000).alias("B02"),
    )
    df = indexes.generate_band_indexes(
        df,
        {"NDVI": "10000.*(B8A-B04)/(B8A+B04)"},
        band_cols=["B8A", "B04"], nodata=BAND_NODATA, dtype="int16")
    df = indexes.generate_band_indexes(
        df,
        {"EVI": "10000.*2.5*(B8A-B04)/(B8A+6.*B04-7.5*B02+10000.)"},
        band_cols=["B8A", "B04", "B02"], nodata=BAND_NODATA, dtype="int16")
    return df.select("l_orderkey", "l_linenumber", "NDVI", "EVI")


# C1 --------------------------------------------------------------------------

_SCENES_SQL = """
scenes AS (
  SELECT l_orderkey % 4 AS tile_id,
         (l_partkey * 7 + l_suppkey) % 256 AS pixel_id,
         DATE '2020-01-01' + CAST(l_orderkey % 5 AS INTEGER) AS date,
         CASE WHEN l_quantity < 5 THEN -9999
              ELSE CAST(round(l_extendedprice * 100) AS BIGINT) % 20001 - 10000 END AS value,
         l_suppkey % 3 AS source_idx
  FROM lineitem
)
"""

_C1_MOSAIC_SQL = """
ranked AS (
  SELECT *, value <> -9999 AS is_valid,
         -- content ordering (priority, then value desc): lineitem has
         -- no unique key, so row-identity ordering is nondeterministic
         row_number() OVER (PARTITION BY tile_id, pixel_id, date, value <> -9999
                            ORDER BY source_idx ASC, value DESC) AS rn
  FROM scenes
),
c1m AS (
  SELECT tile_id, pixel_id, date,
         coalesce(max(CASE WHEN is_valid AND rn = 1 THEN value END), -9999) AS merge_value,
         CAST(coalesce(max(CASE WHEN is_valid AND rn = 1 THEN source_idx END), 255) AS BIGINT) AS datasource,
         count(*) AS n_scenes
  FROM ranked GROUP BY tile_id, pixel_id, date
)
"""

@register("c1_mosaic_first_valid", f"""
WITH {_SCENES_SQL},
{_C1_MOSAIC_SQL}
SELECT tile_id, pixel_id, date, merge_value, datasource, n_scenes FROM c1m
""")
def c1_mosaic_first_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 mosaic reduction (processing.py:329-367): first-valid-pixel
    wins in scene-priority order, with DATASOURCE provenance."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    scenes = li.select(
        (F.col("l_orderkey") % 4).alias("tile_id"),
        ((F.col("l_partkey") * 7 + F.col("l_suppkey")) % 256).alias("pixel_id"),
        F.date_add(F.lit("2020-01-01").cast("date"),
                   (F.col("l_orderkey") % 5).cast("int")).alias("date"),
        F.when(F.col("l_quantity") < 5, F.lit(BAND_NODATA))
         .otherwise(round_half_up_long(F.col("l_extendedprice"), 100) % 20001 - 10000)
         .alias("value"),
        (F.col("l_suppkey") % 3).alias("source_idx"),
    )
    # lowest source_idx preferred, ties by highest value — expressed
    # as a packed priority so the argmax stays a HashAggregate (the
    # struct order_key form plans a 10x-slower SortAggregate)
    return mosaic.mosaic_first_valid(
        scenes, priority=F.lit(255) - F.col("source_idx"))


# C15 -------------------------------------------------------------------------

@register("c15_histogram_match", f"""
WITH {PIXELS_SQL},
src0 AS (SELECT tile_id, pixel_id, value FROM pixels WHERE doy = 2 AND value <> -9999),
ref0 AS (SELECT tile_id, pixel_id, value FROM pixels WHERE doy = 1 AND value <> -9999),
joint AS (
  SELECT s.tile_id AS tile_id, s.pixel_id AS pixel_id, s.value AS sv, r.value AS rv
  FROM src0 s JOIN ref0 r ON s.tile_id = r.tile_id AND s.pixel_id = r.pixel_id
),
scdf AS (
  SELECT tile_id, v,
         sum(cnt) OVER (PARTITION BY tile_id ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1e0
           / sum(cnt) OVER (PARTITION BY tile_id) AS q
  FROM (SELECT tile_id, sv AS v, count(*) AS cnt FROM joint GROUP BY tile_id, sv)
),
rcdf AS (
  SELECT tile_id, v,
         sum(cnt) OVER (PARTITION BY tile_id ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1e0
           / sum(cnt) OVER (PARTITION BY tile_id) AS q
  FROM (SELECT tile_id, rv AS v, count(*) AS cnt FROM joint GROUP BY tile_id, rv)
),
events AS (
  SELECT tile_id, q, 1 AS is_src, v AS src_value, CAST(NULL AS DOUBLE) AS ref_value FROM scdf
  UNION ALL
  SELECT tile_id, q, 0, NULL, CAST(v AS DOUBLE) FROM rcdf
),
br AS (
  SELECT *,
         last_value(ref_value IGNORE NULLS) OVER w_prev AS prev_r,
         last_value(CASE WHEN ref_value IS NOT NULL THEN q END IGNORE NULLS) OVER w_prev AS prev_q,
         first_value(ref_value IGNORE NULLS) OVER w_next AS next_r,
         first_value(CASE WHEN ref_value IS NOT NULL THEN q END IGNORE NULLS) OVER w_next AS next_q
  FROM events
  WINDOW w_prev AS (PARTITION BY tile_id ORDER BY q, is_src
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         w_next AS (PARTITION BY tile_id ORDER BY q, is_src
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT tile_id, src_value,
       CASE WHEN prev_r IS NULL THEN next_r
            WHEN next_r IS NULL THEN prev_r
            WHEN q = prev_q THEN prev_r
            ELSE prev_r + (q - prev_q) * (next_r - prev_r) / (next_q - prev_q) END AS matched
FROM br WHERE is_src = 1
""")
def c15_histogram_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C15 histogram matching (image.py:195-246): date doy=2 matched to
    the doy=1 reference on jointly-valid pixels, CDF interpolation."""
    from .operators.histogram import histogram_match
    px = pixel_plane(spark, sf_dir)
    src = px.filter((F.col("doy") == 2) & (F.col("value") != BAND_NODATA))
    ref = px.filter((F.col("doy") == 1) & (F.col("value") != BAND_NODATA))
    joint = (src.select("tile_id", "pixel_id", F.col("value").alias("sv"))
             .join(ref.select("tile_id", "pixel_id", F.col("value").alias("rv")),
                   ["tile_id", "pixel_id"]))
    return histogram_match(
        joint.select("tile_id", "pixel_id", F.col("sv").alias("value")),
        joint.select("tile_id", "pixel_id", F.col("rv").alias("value")),
        keys=["tile_id"])


# S11 -------------------------------------------------------------------------

@register("s11_empty_fill", f"""
WITH {PIXELS_SQL},
expected AS (
  SELECT t.x AS tile_id, DATE '2020-01-01' + CAST(d.x AS INTEGER) AS date
  FROM generate_series(0, 7) AS t(x) CROSS JOIN generate_series(0, 14) AS d(x)
),
observed AS (
  SELECT tile_id, date, count(*) AS n_obs FROM pixels GROUP BY tile_id, date
)
SELECT e.tile_id AS tile_id, e.date AS date,
       coalesce(o.n_obs IS NOT NULL, FALSE) AS observed,
       CAST(coalesce(o.n_obs, 0) AS BIGINT) AS n_obs
FROM expected e LEFT JOIN observed o
  ON e.tile_id = o.tile_id AND e.date = o.date
""")
def s11_empty_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 dense-timeline fill (maestro.py:550-564): expected
    tile×period grid left-joined against observed scenes; empty
    periods synthesized rather than read."""
    px = pixel_plane(spark, sf_dir)
    tiles = spark.range(8).select(F.col("id").alias("tile_id"))
    dates = spark.range(15).select(
        F.date_add(F.lit("2020-01-01").cast("date"), F.col("id").cast("int")).alias("date"))
    expected = tiles.crossJoin(dates)
    observed = px.groupBy("tile_id", "date").agg(F.count(F.lit(1)).alias("n_obs"))
    return (expected.join(observed, ["tile_id", "date"], "left")
            .select("tile_id", "date",
                    F.col("n_obs").isNotNull().alias("observed"),
                    F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs")))


# C19 -------------------------------------------------------------------------

@register("c19_valid_extent", f"""
WITH {PIXELS_SQL},
valid AS (
  SELECT tile_id, date, pixel_id % 32 AS x, pixel_id // 32 AS y
  FROM pixels WHERE value <> -9999
)
SELECT tile_id, date,
       min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax,
       count(*) AS n_valid,
       'POLYGON((' || min(x) || ' ' || min(y) || ', ' || max(x) || ' ' || min(y)
         || ', ' || max(x) || ' ' || max(y) || ', ' || min(x) || ' ' || max(y)
         || ', ' || min(x) || ' ' || min(y) || '))' AS extent_wkt
FROM valid GROUP BY tile_id, date
""")
def c19_valid_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C19 footprint/extent (image.py:665-708): valid-data envelope per
    scene as bbox columns + WKT polygon."""
    from .operators.footprint import valid_extent
    return valid_extent(pixel_plane(spark, sf_dir), ncols=32)


@register("c19_footprint_suite", f"""
WITH {PIXELS_SQL},
valid AS (
  SELECT tile_id, date, pixel_id % 32 AS x, pixel_id // 32 AS y
  FROM pixels WHERE value <> -9999
),
rowagg AS (
  SELECT tile_id, date, y, min(x) AS xmin, max(x) AS xmax, count(*) AS nrow
  FROM valid GROUP BY tile_id, date, y
),
scene AS (
  SELECT tile_id, date, min(xmin) AS xmin, max(xmax) AS xmax,
         min(y) AS ymin, max(y) AS ymax, CAST(sum(nrow) AS BIGINT) AS n_valid
  FROM rowagg GROUP BY tile_id, date
),
extent AS (
  SELECT 'extent' AS part, tile_id, date, t.seq,
         CASE t.seq WHEN 0 THEN xmin WHEN 1 THEN xmax WHEN 2 THEN xmax
                    ELSE xmin END AS x,
         CASE t.seq WHEN 0 THEN ymin WHEN 1 THEN ymin WHEN 2 THEN ymax
                    ELSE ymax END AS y,
         4 AS n_vertices, 2 * (xmax - xmin) * (ymax - ymin) AS area2, n_valid
  FROM scene CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS seq) t
),
-- Hull vertices are always per-row x extremes (any pixel strictly
-- between them is on the segment joining them, hence not extreme).
cand AS (
  SELECT DISTINCT tile_id, date, x, y FROM (
    SELECT tile_id, date, xmin AS x, y FROM rowagg
    UNION ALL
    SELECT tile_id, date, xmax AS x, y FROM rowagg)
),
-- A candidate c is a STRICT hull vertex iff, sorting the direction
-- vectors to every other candidate by angle, some cyclically
-- consecutive pair (u, v) turns by more than pi — i.e. the empty
-- half-plane test. gap > pi  <=>  cross(u, v) < 0 exactly (sin of the
-- gap is negative), so the decision is integer arithmetic; atan2 only
-- orders distinct directions, which small integer coords separate by
-- far more than double epsilon.
dirs AS (
  SELECT a.tile_id, a.date, a.x AS ax, a.y AS ay,
         b.x - a.x AS ux, b.y - a.y AS uy,
         atan2(CAST(b.y - a.y AS DOUBLE), CAST(b.x - a.x AS DOUBLE)) AS th
  FROM cand a JOIN cand b ON a.tile_id = b.tile_id AND a.date = b.date
  WHERE NOT (a.x = b.x AND a.y = b.y)
),
succ AS (
  SELECT tile_id, date, ax, ay, ux, uy,
         coalesce(lead(ux) OVER w, first_value(ux) OVER w) AS vx,
         coalesce(lead(uy) OVER w, first_value(uy) OVER w) AS vy
  FROM dirs
  WINDOW w AS (PARTITION BY tile_id, date, ax, ay ORDER BY th
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
verts AS (
  SELECT DISTINCT tile_id, date, ax AS x, ay AS y
  FROM succ WHERE ux * vy - uy * vx < 0
),
-- Scenes whose candidates are all collinear produce no strict corner:
-- the hull degenerates to the lex-min/lex-max endpoints (also covers
-- the single-candidate scene).
degen AS (
  SELECT DISTINCT c.tile_id, c.date FROM cand c
  LEFT JOIN (SELECT DISTINCT tile_id, date FROM verts) v
    ON c.tile_id = v.tile_id AND c.date = v.date
  WHERE v.tile_id IS NULL
),
degen_verts AS (
  SELECT DISTINCT tile_id, date, x, y FROM (
    SELECT c.tile_id, c.date, c.x, c.y,
           row_number() OVER (PARTITION BY c.tile_id, c.date
                              ORDER BY c.x, c.y) AS rmin,
           row_number() OVER (PARTITION BY c.tile_id, c.date
                              ORDER BY c.x DESC, c.y DESC) AS rmax
    FROM cand c JOIN degen g ON c.tile_id = g.tile_id AND c.date = g.date)
  WHERE rmin = 1 OR rmax = 1
),
allverts AS (
  SELECT * FROM verts UNION ALL SELECT * FROM degen_verts
),
-- CCW boundary order == angular order around any interior point (the
-- vertex centroid), rotated so the lex-min vertex is seq 0 — exactly
-- the monotone chain's output order.
cent AS (
  SELECT tile_id, date, avg(CAST(x AS DOUBLE)) AS cx,
         avg(CAST(y AS DOUBLE)) AS cy, count(*) AS nv
  FROM allverts GROUP BY tile_id, date
),
ang AS (
  SELECT v.tile_id, v.date, v.x, v.y, c.nv,
         row_number() OVER (PARTITION BY v.tile_id, v.date
             ORDER BY atan2(CAST(v.y AS DOUBLE) - c.cy,
                            CAST(v.x AS DOUBLE) - c.cx)) - 1 AS r,
         row_number() OVER (PARTITION BY v.tile_id, v.date
                            ORDER BY v.x, v.y) AS lex
  FROM allverts v JOIN cent c ON v.tile_id = c.tile_id AND v.date = c.date
),
start AS (SELECT tile_id, date, r AS r0 FROM ang WHERE lex = 1),
seqd AS (
  SELECT a.tile_id, a.date, a.x, a.y, a.nv,
         (a.r - s.r0 + a.nv) % a.nv AS seq
  FROM ang a JOIN start s ON a.tile_id = s.tile_id AND a.date = s.date
),
shoelace AS (
  SELECT tile_id, date, abs(sum(x * ly - lx * y)) AS area2 FROM (
    SELECT tile_id, date, x, y,
           coalesce(lead(x) OVER w, first_value(x) OVER w) AS lx,
           coalesce(lead(y) OVER w, first_value(y) OVER w) AS ly
    FROM seqd
    WINDOW w AS (PARTITION BY tile_id, date ORDER BY seq
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
  GROUP BY tile_id, date
),
hull AS (
  SELECT 'hull' AS part, s.tile_id, s.date, s.seq, s.x, s.y,
         s.nv AS n_vertices, a.area2, sc.n_valid
  FROM seqd s
  JOIN shoelace a ON s.tile_id = a.tile_id AND s.date = a.date
  JOIN scene sc ON s.tile_id = sc.tile_id AND s.date = sc.date
)
SELECT part, tile_id, date, CAST(seq AS BIGINT) AS seq,
       CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
       CAST(n_vertices AS BIGINT) AS n_vertices,
       CAST(area2 AS BIGINT) AS area2, n_valid
FROM (SELECT * FROM extent UNION ALL SELECT * FROM hull)
""")
def c19_footprint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C19 complete footprint (image.py:665-708): the valid-data
    envelope (raster_extent) as 4 CCW corner rows AND the exact strict
    convex hull of valid pixel centers (raster_convexhull) as CCW
    vertex rows from the lex-min vertex, with integer-exact
    twice-shoelace area. Hull candidates reduce JVM-side to per-row x
    extremes before the per-scene applyInPandas monotone chain."""
    from .operators.footprint import footprint_suite
    return footprint_suite(pixel_plane(spark, sf_dir), ncols=32)


# C20 -------------------------------------------------------------------------

@register("c20_validation_report", f"""
WITH {PIXELS_SQL},
per_asset AS (
  SELECT tile_id, date, doy, source_idx, count(*) AS n_obs,
         sum(CASE WHEN value <> -9999 THEN 1 ELSE 0 END) AS n_valid,
         sum(CASE WHEN quality NOT IN (0, 1) THEN 1 ELSE 0 END) AS n_usable
  FROM pixels GROUP BY tile_id, date, doy, source_idx
),
probed AS (
  SELECT date,
         'file:///assets/t' || tile_id || '/d' || doy || '/s' || source_idx
           || '.tif' AS link,
         CASE WHEN n_valid = 0 THEN 'empty'
              WHEN n_usable = 0 THEN 'saturated' END AS error
  FROM per_asset
)
SELECT date, count(*) AS n_assets,
       CAST(sum(CASE WHEN error IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
       -- serialized: raw list cells crash the harness canonicalizer
       coalesce(array_to_string(
                  list_sort(list(link || ': ' || error) FILTER (error IS NOT NULL)),
                  ';'), '') AS errors
FROM probed GROUP BY date
""")
def c20_validation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C20 merge validation scan (image.py:49-144): distributed asset
    probe, per-date error report with sorted failing links."""
    from .operators.validate import validation_report
    return validation_report(pixel_plane(spark, sf_dir))


# S8 --------------------------------------------------------------------------

@register("s8_baseline_offset", f"""
WITH {PIXELS_SQL}
SELECT tile_id, pixel_id, date, source_idx, value,
       CASE WHEN value = -9999 THEN -9999
            WHEN source_idx + 3 >= 4 THEN
              CASE WHEN value - 1000 < 0 THEN -9999 ELSE value - 1000 END
            ELSE value END AS harmonized
FROM pixels
""")
def s8_baseline_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 Sentinel-2 baseline>=4 radiometric offset
    (sentinel2.py:136-174); synthetic baseline_major = source_idx + 3."""
    from .operators.rescale import baseline_offset
    px = pixel_plane(spark, sf_dir)
    return px.select(
        "tile_id", "pixel_id", "date", "source_idx", "value",
        baseline_offset(F.col("value"), F.col("source_idx") + 3,
                        BAND_NODATA).alias("harmonized"))


# S10 -------------------------------------------------------------------------

# DuckDB-side copies of sources/sceneid regexes (same RE2-compatible
# syntax in both engines; no quotes or backslash-escapes needed in SQL
# standard strings).
_LS_RE = r"^(L[COTEM]0[0-9])_(\w{4})_(\d{3})(\d{3})_(\d{8})_\d{8}_(\d{2})_(\w+)$"
_S2_RE = r"^(S2[AB])_MSIL(1C|2A)_(\d{8})T\d{6}_N(\d{2})(\d{2})_R\d{3}_T(\w{5})$"

_SCENEID_SQL = """
scenes AS (SELECT DISTINCT tile_id, doy, source_idx FROM pixels),
ids AS (
  SELECT tile_id, doy, source_idx,
         '2020' || lpad(CAST((doy - 1) % 12 + 1 AS VARCHAR), 2, '0')
                || lpad(CAST((doy * 7) % 28 + 1 AS VARCHAR), 2, '0') AS ymd
  FROM scenes
),
sids AS (
  SELECT tile_id, doy, source_idx,
         CASE WHEN source_idx = 0 THEN
                'LC08_L2SP_' || lpad(CAST(tile_id + 220 AS VARCHAR), 3, '0')
                  || lpad(CAST(tile_id % 4 + 64 AS VARCHAR), 3, '0')
                  || '_' || ymd || '_20210101_02_T1'
              WHEN source_idx = 1 THEN
                'S2A_MSIL2A_' || ymd || 'T103021_N'
                  || (CASE WHEN doy % 2 = 0 THEN '0400' ELSE '0301' END)
                  || '_R122_T23LL' || substr('ABCDEFGH', CAST(tile_id % 8 + 1 AS INTEGER), 1)
              ELSE 'CBERS_4_AWFI_' || ymd || '_154_117_L4' END AS sceneid
  FROM ids
)
"""

@register("s10_sceneid_parse", f"""
WITH {PIXELS_SQL}, {_SCENEID_SQL}
SELECT sceneid,
       CASE WHEN regexp_extract(sceneid, '{{LS}}', 1) <> ''
              THEN substr(regexp_extract(sceneid, '{{LS}}', 1), 1, 2)
                   || regexp_replace(substr(regexp_extract(sceneid, '{{LS}}', 1), 3, 2), '^0', '')
            WHEN regexp_extract(sceneid, '{{S2}}', 1) <> ''
              THEN regexp_extract(sceneid, '{{S2}}', 1)
            ELSE string_split(sceneid, '_')[1] || '_' || string_split(sceneid, '_')[2]
       END AS platform,
       CASE WHEN regexp_extract(sceneid, '{{LS}}', 1) <> ''
              THEN nullif(regexp_extract(sceneid, '{{LS}}', 2), '')
            WHEN regexp_extract(sceneid, '{{S2}}', 1) <> ''
              THEN nullif(regexp_extract(sceneid, '{{S2}}', 2), '') END AS level,
       CASE WHEN regexp_extract(sceneid, '{{LS}}', 1) <> ''
              THEN nullif(regexp_extract(sceneid, '{{LS}}', 5), '')
            WHEN regexp_extract(sceneid, '{{S2}}', 1) <> ''
              THEN nullif(regexp_extract(sceneid, '{{S2}}', 3), '')
            ELSE regexp_extract(sceneid, '_(\\d{{8}})_', 1) END AS sensing_date,
       CASE WHEN regexp_extract(sceneid, '{{S2}}', 1) <> ''
              THEN CAST(nullif(regexp_extract(sceneid, '{{S2}}', 4), '') AS INTEGER)
            END AS baseline_major,
       CASE WHEN regexp_extract(sceneid, '{{LS}}', 1) <> ''
              THEN CAST(nullif(regexp_extract(sceneid, '{{LS}}', 3), '') AS INTEGER)
            END AS wrs_path,
       CASE WHEN regexp_extract(sceneid, '{{LS}}', 1) <> ''
              THEN CAST(nullif(regexp_extract(sceneid, '{{LS}}', 4), '') AS INTEGER)
            END AS wrs_row,
       CASE WHEN regexp_extract(sceneid, '{{S2}}', 1) <> ''
              THEN nullif(regexp_extract(sceneid, '{{S2}}', 6), '') END AS mgrs_tile
FROM sids
""".replace("{LS}", _LS_RE).replace("{S2}", _S2_RE))
def s10_sceneid_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 scene-id parsers (maestro.py:756-777, sentinel2.py:223-295)
    as regexp_extract columns over synthesized per-scene ids."""
    from .sources.sceneid import parse_scene_id, synth_scene_id
    px = pixel_plane(spark, sf_dir)
    scenes = px.select("tile_id", "doy", "source_idx").distinct()
    sid = scenes.select(synth_scene_id(
        F.col("source_idx"), F.col("tile_id"), F.col("doy")).alias("sceneid"))
    parsed = parse_scene_id(F.col("sceneid"))
    return sid.select("sceneid", *[c.alias(n) for n, c in parsed.items()])


# K5 --------------------------------------------------------------------------

@register("k5_publish_identity_items", f"""
WITH {PIXELS_SQL},
qa AS (
  SELECT tile_id, date,
         sum(CASE WHEN quality IN (4,5,6) THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN quality IN (2,3,7,8,9,10,11) THEN 1 ELSE 0 END) AS nc
  FROM pixels GROUP BY tile_id, date
)
SELECT 'S2_V001_' || printf('%03d', CAST(tile_id AS INTEGER)) || '_'
         || strftime(date, '%Y%m%d') AS item_id,
       tile_id, date,
       1e2 * nc / NULLIF(c + nc, 0) AS cloud_cover
FROM qa
""")
def k5_publish_identity_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5 publish_merge (processing.py:1158-1271): one Item per
    (identity cube, tile, date) with per-scene cloud cover."""
    px = pixel_plane(spark, sf_dir)
    qa = px.groupBy("tile_id", "date").agg(
        F.sum(F.col("quality").isin(4, 5, 6).cast("long")).alias("c"),
        F.sum(F.col("quality").isin(2, 3, 7, 8, 9, 10, 11).cast("long")).alias("nc"))
    return qa.select(
        F.concat(F.lit("S2_V001_"),
                 F.format_string("%03d", F.col("tile_id").cast("int")),
                 F.lit("_"), F.date_format("date", "yyyyMMdd")).alias("item_id"),
        "tile_id", "date",
        (F.col("nc") * 100.0 / F.nullif(F.col("c") + F.col("nc"), F.lit(0))
         ).alias("cloud_cover"))


# E2E pipeline ----------------------------------------------------------------

_E2E_BLEND_SQL = f"""
WITH {PIXELS_SQL},
periods(period, ps, pe) AS (
  VALUES ('2020-01-01_2020-01-08', DATE '2020-01-01', DATE '2020-01-08'),
         ('2020-01-09_2020-01-16', DATE '2020-01-09', DATE '2020-01-16')
),
tagged AS (
  SELECT p.*, per.period FROM pixels p
  JOIN periods per ON p.date BETWEEN per.ps AND per.pe
),
eff AS (
  SELECT tile_id, date,
         100.0 * sum(CASE WHEN quality IN (4,5,6) THEN 1 ELSE 0 END) / count(*) AS efficacy
  FROM tagged GROUP BY tile_id, date
),
ranked AS (
  -- source survives the merge only for valid pixels: the mosaic's
  -- DATASOURCE is 255 wherever the canvas stayed nodata
  SELECT t.tile_id, t.period, t.pixel_id, t.value, t.doy, t.quality,
         CASE WHEN t.value = -9999 THEN 255 ELSE t.source_idx END AS source_idx,
         t.quality IN (4,5,6) AS is_clear,
         t.value <> -9999 AS is_valid,
         row_number() OVER (PARTITION BY t.tile_id, t.period, t.pixel_id, t.quality IN (4,5,6)
                            ORDER BY e.efficacy DESC, t.date DESC) AS rn_clear,
         row_number() OVER (PARTITION BY t.tile_id, t.period, t.pixel_id, t.value <> -9999
                            ORDER BY e.efficacy DESC, t.date DESC) AS rn_valid
  FROM tagged t JOIN eff e ON t.tile_id = e.tile_id AND t.date = e.date
)
SELECT tile_id, period, 'B04' AS band, pixel_id,
       coalesce(max(CASE WHEN is_clear AND rn_clear = 1 THEN value END),
                max(CASE WHEN is_valid AND rn_valid = 1 THEN value END), -9999) AS lcf_value,
       CAST(coalesce(max(CASE WHEN is_clear AND rn_clear = 1 THEN doy END),
                     max(CASE WHEN is_valid AND rn_valid = 1 THEN doy END), -1) AS BIGINT) AS provenance,
       CAST(coalesce(max(CASE WHEN is_clear AND rn_clear = 1 THEN source_idx END),
                     max(CASE WHEN is_valid AND rn_valid = 1 THEN source_idx END), 255) AS BIGINT) AS datasource,
       coalesce(median(CASE WHEN quality IN (4,5,6) THEN CAST(value AS DOUBLE) END), -9999.0) AS med_value,
       CAST(sum(CASE WHEN quality <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS totalob,
       CAST(sum(CASE WHEN quality IN (4,5,6) THEN 1 ELSE 0 END) AS BIGINT) AS clearob
FROM ranked GROUP BY tile_id, period, pixel_id
"""


@register("p_cube_build_e2e", _E2E_BLEND_SQL)
def p_cube_build_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2E §3.1 pipeline (plans/build_cube.py) as one oracle query:
    period assignment → merge → keyed blend (LCF + MED + counts) over
    a 2×8-day timeline, band B04 with SCL quality."""
    from datetime import date as _date

    from .plans.build_cube import (CubeJobConfig, assign_periods,
                                   blend_stage, merge_stage, periods_df)
    px = pixel_plane(spark, sf_dir)
    common = ["tile_id", "pixel_id", "date", "doy", "source_idx"]
    b04 = px.select(*common, F.lit("B04").alias("band"),
                    F.col("value").cast("long").alias("value"))
    scl = px.select(*common, F.lit("SCL").alias("band"),
                    F.col("quality").cast("long").alias("value"))
    obs = b04.unionByName(scl).withColumn("scene_order", F.col("source_idx"))
    cfg = CubeJobConfig(start=_date(2020, 1, 1), end=_date(2020, 1, 16), step=8)
    tagged = assign_periods(obs, periods_df(spark, cfg))
    blended = blend_stage(merge_stage(tagged, cfg), cfg)
    return blended.select("tile_id", "period", "band", "pixel_id",
                          "lcf_value", "provenance", "datasource",
                          "med_value", "totalob", "clearob")


@register("x_incremental_cube_update", _E2E_BLEND_SQL)
def x_incremental_cube_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental cube refresh (streaming/incremental.py):
    the same scenes as p_cube_build_e2e arrive in TWO micro-batches
    split by date; each batch folds into the monoid blend state and
    rewrites only its (tile, period) partitions. Because every blend
    aggregate merges associatively (max-struct picks, sums, exact
    median over the bounded clear-value array), the folded result is
    hash-identical to the one-shot SQL oracle — a full-value oracle
    for a streaming operator, not a rows-only check."""
    import shutil
    from .session import scratch_dir
    from datetime import date as _date

    from .plans.build_cube import CubeJobConfig
    from .streaming.incremental import update_cube_batch

    px = pixel_plane(spark, sf_dir)
    common = ["tile_id", "pixel_id", "date", "doy", "source_idx"]
    b04 = px.select(*common, F.lit("B04").alias("band"),
                    F.col("value").cast("long").alias("value"))
    scl = px.select(*common, F.lit("SCL").alias("band"),
                    F.col("quality").cast("long").alias("value"))
    obs = b04.unionByName(scl).withColumn("scene_order", F.col("source_idx"))
    cfg = CubeJobConfig(start=_date(2020, 1, 1), end=_date(2020, 1, 16),
                        step=8, index_bands={})
    dates = sorted(r.date for r in obs.select("date").distinct().collect())
    cut = dates[len(dates) // 2]
    out = scratch_dir("incr_cube_")
    try:
        update_cube_batch(spark, obs.filter(F.col("date") <= F.lit(cut)),
                          out, cfg)
        update_cube_batch(spark, obs.filter(F.col("date") > F.lit(cut)),
                          out, cfg)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    import os as _os
    from .session import defer_cleanup
    # lazy read over the deferred-cleanup scratch dir: no
    # localCheckpoint, so repeated runs pin no block-manager RDDs.
    # partition-column type inference reads tile_id back as int —
    # restore the plane's long so the oracle schema matches
    return spark.read.parquet(
        _os.path.join(defer_cleanup(out, key="x_incremental_cube_update"),
                      "cube")).select(
        F.col("tile_id").cast("long").alias("tile_id"),
        "period", "band", "pixel_id",
        "lcf_value", "provenance", "datasource",
        "med_value", "totalob", "clearob")


# x_cube_reuse runs the e2e blend oracle restricted to ONE period:
# the reuse semantics (IDT source cube, band-subset validation and
# pruning, merge-plane substitution) are period-count-independent, and
# the query's graded cost was 10% of the whole bench for one row of
# signal (round-7 verdict task 7). The hash contract is unchanged —
# the oracle still recomputes the full blend for the period built.
_E2E_BLEND_1P_SQL = _E2E_BLEND_SQL.replace(
    """  VALUES ('2020-01-01_2020-01-08', DATE '2020-01-01', DATE '2020-01-08'),
         ('2020-01-09_2020-01-16', DATE '2020-01-09', DATE '2020-01-16')""",
    """  VALUES ('2020-01-01_2020-01-08', DATE '2020-01-01', DATE '2020-01-08')""")
assert _E2E_BLEND_1P_SQL != _E2E_BLEND_SQL

# ...and to a 2-of-8 tile slice (round-9 verdict task 4): the reuse
# semantics (IDT source, band-subset validation/pruning, merge-plane
# substitution) are tile-count-independent exactly as they are
# period-count-independent, and the blend cost scales with tiles. The
# oracle is sliced identically, so the hash check stays full-value.
# Round-10 trim probe (verdict task 6): a 1-of-8 slice measured
# 3.66s vs 3.94s min-of-4 interleaved at sf0.1 — only 7%, because the
# cost is dominated by the two build_cube invocations' fixed overhead,
# not tile data. Keeping 2 tiles preserves the last multi-tile
# coverage (per-tile grouping inside the reuse merge plane) for 0.3s.
_REUSE_TILES = 2
_E2E_BLEND_1P_T2_SQL = _E2E_BLEND_1P_SQL.replace(
    "JOIN periods per ON p.date BETWEEN per.ps AND per.pe",
    "JOIN periods per ON p.date BETWEEN per.ps AND per.pe\n"
    f"  WHERE p.tile_id < {_REUSE_TILES}")
assert _E2E_BLEND_1P_T2_SQL != _E2E_BLEND_1P_SQL


@register("x_cube_reuse", _E2E_BLEND_1P_T2_SQL)
def x_cube_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-cube reuse (reference maestro.py:222-259, 359-394;
    tasks.py:111-117): cube A is an IDENTITY (IDT) cube — merges
    published as-is, no blend (tasks.py:398-400) — carrying an EXTRA
    band; cube B builds with ``reuse_from`` pointing at A's output and
    never touches raw scenes — its merge plane is A's persisted
    identity table, band-subset validated and pruned to B's two bands
    (the maestro.py:387-388 pattern: every composed cube derives from
    an IDT source). B's blended cube must be hash-identical to the
    one-shot e2e oracle, proving the reuse path changes data flow, not
    results."""
    import shutil
    from datetime import date as _date

    from .plans.build_cube import CubeJobConfig, build_cube
    from .session import scratch_dir

    # 2-of-8 tile slice, matching _E2E_BLEND_1P_T2_SQL: reuse
    # semantics are tile-count-independent (verdict task 4 trim)
    px = pixel_plane(spark, sf_dir).filter(F.col("tile_id") < _REUSE_TILES)
    common = ["tile_id", "pixel_id", "date", "doy", "source_idx"]
    b04 = px.select(*common, F.lit("B04").alias("band"),
                    F.col("value").cast("long").alias("value"))
    scl = px.select(*common, F.lit("SCL").alias("band"),
                    F.col("quality").cast("long").alias("value"))
    # cube A carries an extra band so B's subset validation/pruning is real
    b08 = px.select(*common, F.lit("B08").alias("band"),
                    ((F.col("value") * 2) % 10001).cast("long").alias("value"))
    obs_a = b04.unionByName(scl).unionByName(b08) \
        .withColumn("scene_order", F.col("source_idx"))
    obs_b = b04.unionByName(scl).withColumn("scene_order", F.col("source_idx"))

    dir_a = scratch_dir("reuse_src_")
    dir_b = scratch_dir("reuse_dst_")
    try:
        # one period (end 01-08, not 01-16): see _E2E_BLEND_1P_SQL —
        # reuse semantics are period-count-independent
        cfg_a = CubeJobConfig(cube="IDT-SRC", composite="IDT",
                              start=_date(2020, 1, 1),
                              end=_date(2020, 1, 8), step=8,
                              index_bands={})
        build_cube(spark, obs_a, dir_a, cfg_a)
        cfg_b = CubeJobConfig(cube="REUSED", start=_date(2020, 1, 1),
                              end=_date(2020, 1, 8), step=8,
                              index_bands={}, reuse_from=dir_a)
        build_cube(spark, obs_b, dir_b, cfg_b)
    except BaseException:
        shutil.rmtree(dir_a, ignore_errors=True)
        shutil.rmtree(dir_b, ignore_errors=True)
        raise
    # A's identity merges are only needed DURING B's build
    shutil.rmtree(dir_a, ignore_errors=True)
    import os as _os
    from .session import defer_cleanup
    # lazy read over the deferred-cleanup scratch dir (see
    # x_incremental_cube_update): the former eager localCheckpoint
    # pinned one persisted RDD per run — the round-4 bench's monotone
    # 6.2->6.7->8.4s slowdown across identical runs
    return spark.read.parquet(
        _os.path.join(defer_cleanup(dir_b, key="x_cube_reuse"),
                      "cube")).select(
        F.col("tile_id").cast("long").alias("tile_id"),
        "period", "band", "pixel_id",
        "lcf_value", "provenance", "datasource",
        "med_value", "totalob", "clearob")


_C1B_WARP_SQL = f"""
SELECT tile_id,
       ((pixel_id // 32) // 2) * 16 + (pixel_id % 32) // 2 AS pixel_id,
       value
FROM pixels
WHERE date = DATE '2020-01-02'
  AND (pixel_id // 32) % 2 = 0 AND (pixel_id % 32) % 2 = 0
  AND value <> {BAND_NODATA}
"""

@register("c1b_warp_resample", f"""
WITH {PIXELS_SQL}
{_C1B_WARP_SQL}
""")
def c1b_warp_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 geometric half (operators/warp.py; processing.py:303-316):
    each tile's 16x32 scene is encoded to a stdlib GeoTIFF on the
    executors, then warp_scenes reprojects it onto a 2x-coarser target
    grid (nearest, center-of-pixel inverse mapping). With aligned
    grids, nearest picks src(2r, 2c) exactly — index arithmetic the
    SQL oracle replays, making the whole encode->warp->emit path
    full-value checked."""
    import numpy as np
    import pandas as pd

    from .operators.warp import warp_scenes
    from .sinks.cog import write_geotiff_band

    ncols, nrows, res = 32, 16, 30.0
    px = (pixel_plane(spark, sf_dir)
          .filter(F.col("date") == F.lit("2020-01-02").cast("date"))
          .select("tile_id", "pixel_id", "value"))

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.full(nrows * ncols, BAND_NODATA, np.int16)
        arr[pdf["pixel_id"].to_numpy()] = pdf["value"].to_numpy(np.int16)
        tile = int(pdf["tile_id"].iloc[0])
        buf = write_geotiff_band(arr.reshape(nrows, ncols),
                                 pixel_size=(res, res),
                                 origin=(tile * ncols * res, 0.0),
                                 nodata=BAND_NODATA)
        return pd.DataFrame([{"path": f"t{tile}", "content": buf}])

    files = px.groupBy("tile_id").applyInPandas(
        encode, "path string, content binary")
    tiles = [{"tile_id": t, "west": t * ncols * res, "north": 0.0,
              "width": ncols // 2, "height": nrows // 2, "res": 2 * res}
             for t in range(8)]
    return warp_scenes(files, tiles, "EPSG:32722", "EPSG:32722",
                       nodata=BAND_NODATA)


@register("c1_suite", f"""
WITH {_SCENES_SQL},
{_C1_MOSAIC_SQL},
{PIXELS_SQL}
SELECT 'mosaic' AS part, tile_id, pixel_id, date,
       merge_value AS value, datasource, n_scenes
FROM c1m
UNION ALL
SELECT 'warp', tile_id, pixel_id, CAST(NULL AS DATE), value,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
FROM ({_C1B_WARP_SQL})
""")
def c1_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1 in one graded row: the mosaic half (first-valid-wins with
    DATASOURCE provenance) and the geometric warp half (stdlib GeoTIFF
    encode → reproject/resample), schema-aligned — both halves
    hash-checked in a single window slot."""
    mos = c1_mosaic_first_valid(spark, sf_dir).select(
        F.lit("mosaic").alias("part"), "tile_id", "pixel_id", "date",
        F.col("merge_value").alias("value"), "datasource", "n_scenes")
    warp = c1b_warp_resample(spark, sf_dir).select(
        F.lit("warp").alias("part"), "tile_id", "pixel_id",
        F.lit(None).cast("date").alias("date"), "value",
        F.lit(None).cast("long").alias("datasource"),
        F.lit(None).cast("long").alias("n_scenes"))
    return mos.unionByName(warp)


# C8 provenance-conditional ----------------------------------------------------

@register("c8_qa_cirrus_oli", f"""
WITH qa_plane AS (
  SELECT l_orderkey % 8 AS tile_id,
         (l_partkey * 31 + l_orderkey) % 65536 AS qa,
         l_suppkey % 3 AS datasource
  FROM lineitem
)
SELECT tile_id, count(*) AS n_total,
       CAST(sum(CASE WHEN qa <> 1
                 AND NOT ( ((qa >> 1) & 1) > 0 OR ((qa >> 2) & 1) > 0
                        OR ((qa >> 3) & 1) > 0 OR ((qa >> 4) & 1) > 0
                        OR ((qa >> 8) & 3) >= 2 OR ((qa >> 10) & 3) >= 2 )
                 AND ( ((qa >> 6) & 1) > 0 OR ((qa >> 7) & 1) > 0 )
                 AND NOT ( ((qa >> 14) & 3) >= 2 AND datasource IN (0, 1) )
            THEN 1 ELSE 0 END) AS BIGINT) AS n_clear
FROM qa_plane GROUP BY tile_id
""")
def c8_qa_cirrus_oli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8 cirrus-only-for-OLI (image.py:493-509): the cirrus confidence
    rule applies per-pixel conditional on DATASOURCE provenance
    (sources 0,1 = OLI here)."""
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    df = li.select(
        (F.col("l_orderkey") % 8).alias("tile_id"),
        ((F.col("l_partkey") * 31 + F.col("l_orderkey")) % 65536).alias("qa"),
        (F.col("l_suppkey") % 3).alias("datasource"))
    clear = masking.qa_pixel_clear_with_provenance(
        F.col("qa"), F.col("datasource"), oli_sources=[0, 1],
        clear_bits=[6, 7], not_clear_bits=[1, 2, 3, 4], nodata=1,
        cloud_conf_min=masking.MEDIUM, shadow_conf_min=masking.MEDIUM,
        cirrus_conf_min=masking.MEDIUM)
    return (df.groupBy("tile_id")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(clear.cast("long")).alias("n_clear")))


# K2/K3 quicklook --------------------------------------------------------------

def _rgb_wide(spark, sf_dir):
    """3-channel wide plane for the quicklook family: R/G/B derived
    deterministically from the pixel plane for one period."""
    px = pixel_plane(spark, sf_dir)
    v = F.col("value")
    return (px.filter(F.col("doy") <= 8)
            .groupBy("tile_id", "pixel_id")
            .agg(F.max(F.when(v != BAND_NODATA, (v + 10000) % 10001)).alias("B04"),
                 F.max(F.when(v != BAND_NODATA, (v * 3 + 10000 * 3) % 10001)).alias("B03"),
                 F.max(F.when(v != BAND_NODATA, (v * 7 + 10000 * 7) % 10001)).alias("B02"))
            .select("tile_id", F.lit("2020-01-01_2020-01-08").alias("period"),
                    "pixel_id",
                    F.coalesce("B04", F.lit(BAND_NODATA)).alias("B04"),
                    F.coalesce("B03", F.lit(BAND_NODATA)).alias("B03"),
                    F.coalesce("B02", F.lit(BAND_NODATA)).alias("B02")))


_RGB_SQL = """
rgb AS (
  SELECT tile_id, '2020-01-01_2020-01-08' AS period, pixel_id,
         coalesce(max(CASE WHEN value <> -9999 THEN (value + 10000) % 10001 END), -9999) AS B04,
         coalesce(max(CASE WHEN value <> -9999 THEN (value * 3 + 30000) % 10001 END), -9999) AS B03,
         coalesce(max(CASE WHEN value <> -9999 THEN (value * 7 + 70000) % 10001 END), -9999) AS B02
  FROM pixels WHERE doy <= 8 GROUP BY tile_id, pixel_id
)
"""


@register("k3_rgb_scaled", f"""
WITH {PIXELS_SQL}, {_RGB_SQL}
SELECT tile_id, period, pixel_id,
       CASE WHEN B04 = -9999 THEN 0 ELSE CAST(floor(least(greatest(CAST(B04 AS DOUBLE), 0.0), 10000.0) / 10000.0 * 255.0) AS INTEGER) END AS r8,
       CASE WHEN B03 = -9999 THEN 0 ELSE CAST(floor(least(greatest(CAST(B03 AS DOUBLE), 0.0), 10000.0) / 10000.0 * 255.0) AS INTEGER) END AS g8,
       CASE WHEN B02 = -9999 THEN 0 ELSE CAST(floor(least(greatest(CAST(B02 AS DOUBLE), 0.0), 10000.0) / 10000.0 * 255.0) AS INTEGER) END AS b8
FROM rgb
""")
def k3_rgb_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/C13 full-res RGB composite channels (processing.py:970-989):
    linear 0-10000 -> 0-255 with nodata -> 0."""
    from .sinks.quicklook import rgb_scaled
    return rgb_scaled(_rgb_wide(spark, sf_dir), "B04", "B03", "B02")


@register("k2_quicklook_png", f"""
WITH {PIXELS_SQL}, {{RGB}},
scaled AS (
  SELECT tile_id, period, pixel_id,
         CASE WHEN B04 = -9999 THEN 0 ELSE CAST(floor(least(greatest(CAST(B04 AS DOUBLE), 0.0), 10000.0) / 10000.0 * 255.0) AS INTEGER) END AS r8,
         CASE WHEN B03 = -9999 THEN 0 ELSE CAST(floor(least(greatest(CAST(B03 AS DOUBLE), 0.0), 10000.0) / 10000.0 * 255.0) AS INTEGER) END AS g8,
         CASE WHEN B02 = -9999 THEN 0 ELSE CAST(floor(least(greatest(CAST(B02 AS DOUBLE), 0.0), 10000.0) / 10000.0 * 255.0) AS INTEGER) END AS b8
  FROM rgb
)
SELECT tile_id, period, 32 AS width,
       CAST(max(pixel_id) // 32 + 1 AS INTEGER) AS height,
       TRUE AS png_ok,
       CAST(sum(r8) AS BIGINT) AS r_sum,
       CAST(sum(g8) AS BIGINT) AS g_sum,
       CAST(sum(b8) AS BIGINT) AS b_sum
FROM scaled GROUP BY tile_id, period
""".replace("{RGB}", _RGB_SQL.strip()))
def k2_quicklook_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 quicklook (processing.py:1291-1324): one REAL PNG per
    (tile, period) — stdlib zlib encoder inside applyInPandas — then
    DECODED BACK with the paired decoder, emitting the image dims, a
    signature check, and per-channel pixel sums. The SQL oracle replays
    the sums from the scaled channel math, so the whole scale → pack →
    deflate → unpack path is hash-checked end-to-end (the binary
    itself can't be SQL-derived; its decoded content can)."""
    import numpy as np
    import pandas as pd

    from .sinks.quicklook import decode_png_rgb, quicklook_png, rgb_scaled
    scaled = rgb_scaled(_rgb_wide(spark, sf_dir), "B04", "B03", "B02")
    out = quicklook_png(scaled, ncols=32)

    def verify(batches):
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                png = bytes(r.png)
                img = decode_png_rgb(png).astype(np.int64)
                rows.append({
                    "tile_id": int(r.tile_id), "period": r.period,
                    "width": img.shape[1], "height": img.shape[0],
                    "png_ok": png[:8] == b"\x89PNG\r\n\x1a\n",
                    "r_sum": int(img[:, :, 0].sum()),
                    "g_sum": int(img[:, :, 1].sum()),
                    "b_sum": int(img[:, :, 2].sum())})
            if rows:
                yield pd.DataFrame(rows)

    return out.mapInPandas(
        verify, "tile_id long, period string, width int, height int, "
                "png_ok boolean, r_sum long, g_sum long, b_sum long")


# K1 COG structure -------------------------------------------------------------

@register("k1_cog_structure", f"""
WITH {PIXELS_SQL},
obs AS (
  SELECT tile_id, pixel_id, value FROM pixels WHERE date = DATE '2020-01-02'
),
agg AS (
  SELECT tile_id,
         CAST(sum(value) + (-9999) * (512 - count(*)) AS BIGINT) AS full_sum,
         CAST(coalesce(sum(CASE WHEN (pixel_id // 32) % 2 = 0
                                 AND (pixel_id % 32) % 2 = 0 THEN value END), 0)
              + (-9999) * (128 - count(CASE WHEN (pixel_id // 32) % 2 = 0
                                             AND (pixel_id % 32) % 2 = 0 THEN 1 END))
              AS BIGINT) AS ov_sum
  FROM obs GROUP BY tile_id
)
SELECT tile_id, 32 AS width, 16 AS height, 8 AS tile, 1 AS n_overviews,
       TRUE AS ifds_lead_data, TRUE AS overview_data_first, TRUE AS ov_subfile_ok,
       -9999 AS nodata, full_sum, ov_sum
FROM agg
""")
def k1_cog_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 COG writer (sinks/cog.write_cog_band; reference
    image.py:309-378 cog_translate): each tile's scene is encoded as a
    REAL tiled+overview COG on the executors, decoded back with
    sources/cog_reader.CogReader, and the STRUCTURE becomes oracle-checked
    columns — internal tile size, overview count, IFDs-lead-data and
    overview-data-first layout (the range-request properties that make
    a COG a COG), NewSubfileType flags, nodata tag, and value checksums
    of the full-res plane and the nearest 2x overview (which the SQL
    oracle replays as the even-row/even-col sum)."""
    import numpy as np
    import pandas as pd

    from .sinks.cog import write_cog_band
    from .sources.cog_reader import BytesFetcher, CogReader

    nrows, ncols = 16, 32
    px = (pixel_plane(spark, sf_dir)
          .filter(F.col("date") == F.lit("2020-01-02").cast("date"))
          .select("tile_id", "pixel_id", "value"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.full(nrows * ncols, -9999, np.int16)
        arr[pdf["pixel_id"].to_numpy()] = pdf["value"].to_numpy(np.int16)
        tile = int(pdf["tile_id"].iloc[0])
        buf = write_cog_band(arr.reshape(nrows, ncols), tile=8,
                             origin=(tile * ncols * 30.0, 0.0))
        r = CogReader("<bytes>", fetcher=BytesFetcher(buf))
        full = r.read_level(0).astype(np.int64)
        ovs = r.levels[1:]
        return pd.DataFrame([{
            "tile_id": tile,
            "width": full.shape[1], "height": full.shape[0],
            "tile": r.levels[0]["block"][0], "n_overviews": len(ovs),
            "ifds_lead_data": r.ifds_lead_data,
            "overview_data_first": r.overview_data_first,
            "ov_subfile_ok": all(lv["subfile_type"] == 1 for lv in ovs),
            "nodata": r.geo["nodata"],
            "full_sum": int(full.sum()),
            "ov_sum": (int(r.read_level(1).astype(np.int64).sum())
                       if ovs else 0),
        }])

    return px.groupBy("tile_id").applyInPandas(
        build, "tile_id long, width int, height int, tile int, "
               "n_overviews int, ifds_lead_data boolean, "
               "overview_data_first boolean, ov_subfile_ok boolean, "
               "nodata long, full_sum long, ov_sum long")


# C2-C6 over the block-array representation ------------------------------------

@register("c2_blend_blocks", f"""
WITH {PIXELS_SQL}, {_EFF_SQL}, {_LCF_RANKED_SQL}
SELECT r.tile_id, r.pixel_id,
       coalesce(max(CASE WHEN is_clear AND rn_clear = 1 THEN r.value END),
                max(CASE WHEN is_valid AND rn_valid = 1 THEN r.value END), -9999) AS lcf_value,
       CAST(coalesce(max(CASE WHEN is_clear AND rn_clear = 1 THEN r.doy END),
                     max(CASE WHEN is_valid AND rn_valid = 1 THEN r.doy END), -1) AS BIGINT) AS provenance,
       CAST(coalesce(max(CASE WHEN is_clear AND rn_clear = 1 THEN r.source_idx END),
                     max(CASE WHEN is_valid AND rn_valid = 1 THEN r.source_idx END), 255) AS BIGINT) AS datasource,
       coalesce(median(CASE WHEN p.quality IN (4,5,6) THEN CAST(p.value AS DOUBLE) END), -9999.0) AS med_value,
       CAST(sum(CASE WHEN p.quality IN (4,5,6) THEN 1 ELSE 0 END) AS BIGINT) AS clearob,
       CAST(sum(CASE WHEN p.quality <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS totalob
FROM ranked r JOIN pixels p
  ON p.tile_id = r.tile_id AND p.pixel_id = r.pixel_id AND p.doy = r.doy
GROUP BY r.tile_id, r.pixel_id
""")
def c2_blend_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2-C6 over the BLOCK-ARRAY representation (operators/blocks.py):
    512-pixel array rows reduced by the vectorized numpy kernel inside
    applyInPandas — the production shape at 100 TB (one row = one
    rasterio block window), hash-checked against the same oracle as
    the pixel-row path."""
    from .operators.blocks import blend_blocks, blocks_to_pixels, pixels_to_blocks
    px = pixel_plane(spark, sf_dir)
    eff = blend.scene_efficacy(px)
    blocks = pixels_to_blocks(px, eff, block_size=64)
    out = blocks_to_pixels(blend_blocks(blocks), block_size=64)
    # dense fill materializes unobserved slots; the oracle plane only
    # has observed pixels
    return out.join(px.select("tile_id", "pixel_id").distinct(),
                    ["tile_id", "pixel_id"], "left_semi")


@register("x_job_status", """
SELECT 'JOBLOG-1' AS cube, 'LCF' AS composite, 'done' AS status,
       CAST(2 AS BIGINT) AS n_runs, CAST(4 AS BIGINT) AS total_items,
       CAST(0 AS BIGINT) AS new_items, CAST(4 AS BIGINT) AS reused_items
""")
def x_job_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 async-status surface, graded: run the build DAG TWICE over a
    2-tile observation slice — the second run is the incremental
    no-op — and read back the job-log status row. Every field is
    determined by the orchestration semantics alone (2 runs, 2 tiles ×
    2 periods = 4 items first run, 0 new + 4 reused on re-run, status
    'done'), independent of scale factor, so a static oracle pins the
    broker-state-machine behavior (reference tasks.py:549-574 /
    controller.py:385-417)."""
    from datetime import date as _date

    from .plans.build_cube import CubeJobConfig, build_cube, job_status
    from .session import scratch_dir

    px = pixel_plane(spark, sf_dir).filter(F.col("tile_id").isin(0, 1))
    common = ["tile_id", "pixel_id", "date", "doy", "source_idx"]
    b04 = px.select(*common, F.lit("B04").alias("band"),
                    F.col("value").cast("long").alias("value"))
    scl = px.select(*common, F.lit("SCL").alias("band"),
                    F.col("quality").cast("long").alias("value"))
    obs = b04.unionByName(scl).withColumn("scene_order",
                                          F.col("source_idx"))
    out = scratch_dir("joblog_")
    cfg = CubeJobConfig(cube="JOBLOG", composite="LCF",
                        start=_date(2020, 1, 1), end=_date(2020, 1, 16),
                        step=8, index_bands={})
    build_cube(spark, obs, out, cfg)
    build_cube(spark, obs, out, cfg)      # incremental no-op
    return job_status(spark, out).select(
        "cube", "composite", "status",
        F.col("n_runs").cast("long").alias("n_runs"),
        F.col("total_items").cast("long").alias("total_items"),
        F.col("new_items").cast("long").alias("new_items"),
        F.col("reused_items").cast("long").alias("reused_items"))


@register("x_bucketed_cube_agg", f"""
WITH {PIXELS_SQL},
plane AS (SELECT tile_id, pixel_id, value, quality FROM pixels)
SELECT tile_id, pixel_id,
       count(*) AS n_obs,
       CAST(sum(value) AS BIGINT) AS sum_value,
       CAST(max(quality) AS BIGINT) AS max_quality
FROM plane
GROUP BY tile_id, pixel_id
""")
def x_bucketed_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketed cube store in a graded path: the pixel plane is
    persisted with bucketBy(tile_id, pixel_id) + in-bucket sort, read
    back from disk, and aggregated ON THE BUCKET KEY — the
    aggregation elides its Exchange because the scan exposes the
    bucket hash partitioning (the zero-shuffle property asserted in
    tests/test_bucketed_store.py; here the RESULT is hash-checked, so
    the store also provably round-trips the data bit-exact)."""
    from .pixelplane import pixel_plane
    from .session import scratch_dir
    from .sinks.bucketed import read_bucketed, write_bucketed_cube

    px = pixel_plane(spark, sf_dir).select(
        "tile_id", "pixel_id", "value", "quality")
    path = scratch_dir("bucketed_agg_")
    table = "x_bucketed_cube_agg_t"
    write_bucketed_cube(px, table, path, n_buckets=32,
                        bucket_cols=("tile_id", "pixel_id"),
                        sort_cols=())
    stored = read_bucketed(spark, table)
    return (stored.groupBy("tile_id", "pixel_id")
            .agg(F.count(F.lit(1)).alias("n_obs"),
                 F.sum("value").cast("long").alias("sum_value"),
                 F.max("quality").cast("long").alias("max_quality")))


# C21/C22 — temporal analytics over the cube (round 7) -----------------------
# The reference stops at composites (LCF/MED); per-pixel trend and
# gap-filling are the next analytics an EO-cube user runs on the
# result (NDVI greening rates, cloud-gap interpolation). Both are pure
# integer/window relational shapes with exact SQL twins.

@register("c21_pixel_trend", f"""
WITH {{PIXELS}},
v AS (
  SELECT tile_id, pixel_id, doy, value FROM pixels WHERE value <> {BAND_NODATA}
),
s AS (
  SELECT tile_id, pixel_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(doy) AS BIGINT) AS sx,
         CAST(sum(value) AS BIGINT) AS sy,
         CAST(sum(doy * value) AS BIGINT) AS sxy,
         CAST(sum(doy * doy) AS BIGINT) AS sxx
  FROM v GROUP BY tile_id, pixel_id
)
SELECT tile_id, pixel_id, n AS n_obs,
       CAST(n * sxy - sx * sy AS BIGINT) AS num,
       CAST(n * sxx - sx * sx AS BIGINT) AS den,
       (n * sxy - sx * sy) * 1e0 / (n * sxx - sx * sx) AS slope
FROM s WHERE n * sxx - sx * sx > 0
""".replace("{PIXELS}", PIXELS_SQL))
def c21_pixel_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C21: per-pixel temporal trend — least-squares slope of value
    over day-of-year across the time stack (the NDVI greening-rate
    analytic). Exact integer moment sums (n, Σx, Σy, Σxy, Σx²) feed
    the closed-form slope, so the only float op is ONE division —
    bit-identical across engines. Pixels with a degenerate design
    (fewer than 2 distinct days) are excluded by den > 0.

    Scale shape: one groupBy(tile, pixel) with map-side partial
    moments — the classic mergeable-statistics reduction; no window,
    no join, shuffle bounded by the pixel count."""
    px = pixel_plane(spark, sf_dir).filter(F.col("value") != BAND_NODATA)
    s = px.groupBy("tile_id", "pixel_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("doy").cast("long").alias("sx"),
        F.sum("value").cast("long").alias("sy"),
        F.sum(F.col("doy") * F.col("value")).cast("long").alias("sxy"),
        F.sum(F.col("doy") * F.col("doy")).cast("long").alias("sxx"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (s.select("tile_id", "pixel_id", F.col("n").alias("n_obs"),
                     num.cast("long").alias("num"),
                     den.cast("long").alias("den"),
                     (num * 1.0 / den).alias("slope"))
            .filter(F.col("den") > 0))


# (doy, value) packed into ONE integer so a single IGNORE NULLS window
# carries both neighbor coordinates: doy * 100000 + (value + 10001);
# value ∈ [-10000, 10000] keeps the low field < 100000.
_GF_PACK = 100000

@register("c22_gap_fill", f"""
WITH {{PIXELS}},
base AS (SELECT DISTINCT tile_id, pixel_id FROM pixels),
dense AS (
  SELECT tile_id, pixel_id, CAST(d AS BIGINT) AS doy
  FROM base, unnest(range(1, {N_DATES} + 1)) AS u(d)
),
obs AS (
  SELECT tile_id, pixel_id, doy, value FROM pixels
  WHERE value <> {BAND_NODATA}
),
j AS (
  SELECT d.tile_id, d.pixel_id, d.doy, o.value,
         CASE WHEN o.value IS NOT NULL
              THEN d.doy * {_GF_PACK} + o.value + 10001 END AS pk
  FROM dense d LEFT JOIN obs o
    ON d.tile_id = o.tile_id AND d.pixel_id = o.pixel_id AND d.doy = o.doy
),
w AS (
  SELECT tile_id, pixel_id, doy, value,
         last_value(pk IGNORE NULLS) OVER
           (PARTITION BY tile_id, pixel_id ORDER BY doy
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ppk,
         first_value(pk IGNORE NULLS) OVER
           (PARTITION BY tile_id, pixel_id ORDER BY doy
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS npk
  FROM j
)
SELECT tile_id, pixel_id, doy,
       CASE WHEN value IS NOT NULL THEN CAST(value AS DOUBLE)
            ELSE (ppk % {_GF_PACK} - 10001)
                 + ((npk % {_GF_PACK} - 10001) - (ppk % {_GF_PACK} - 10001))
                   * (doy - ppk // {_GF_PACK}) * 1e0
                   / (npk // {_GF_PACK} - ppk // {_GF_PACK}) END AS filled_value,
       value IS NULL AND ppk IS NOT NULL AND npk IS NOT NULL AS is_filled
FROM w
WHERE value IS NOT NULL OR (ppk IS NOT NULL AND npk IS NOT NULL)
""".replace("{PIXELS}", PIXELS_SQL))
def c22_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C22: temporal gap-filling — linear interpolation of interior
    missing/cloudy slots per pixel between the nearest valid
    neighbors (the standard cloud-gap treatment downstream of the
    reference's empty_fill, which only densifies with nodata:
    reference cube_builder/maestro.py:550-564 builds the dense
    timeline, the interpolation itself is new surface).

    Exactness: neighbor (doy, value) pairs ride ONE packed integer
    through each IGNORE NULLS window, and the interpolation is a
    fixed-shape expression over integers with a single float
    multiply+divide — identical IEEE ops in both engines. Boundary
    gaps (no neighbor on one side) are dropped, not extrapolated.

    Scale shape (r14 single-pass form): the output is exactly (a)
    every valid observation and (b) every doy strictly between two
    CONSECUTIVE observations of the same pixel, interpolated between
    them. So instead of densifying to pixels x N_DATES, left-joining
    the observations back, and running two IGNORE NULLS windows over
    the dense frame (three shuffles, N_DATES rows per pixel), pair
    each observation with its successor via ONE lead() window over
    the valid rows and explode the interior gap with transform() —
    shuffle volume drops from |pixels| x N_DATES to |obs|, and the
    densify join disappears (guide §2.4/§3.3: explode after, not
    before, the heavy operation). The interpolation expression is the
    SAME integer arithmetic with the single float multiply+divide, so
    results are bit-identical to the windowed form."""
    px = pixel_plane(spark, sf_dir)
    obs = (px.filter(F.col("value") != BAND_NODATA)
           .select("tile_id", "pixel_id", "doy", "value"))
    w = Window.partitionBy("tile_id", "pixel_id").orderBy("doy")
    nx = (obs.withColumn("nd", F.lead("doy").over(w))
          .withColumn("nv", F.lead("value").over(w)))
    own = F.array(F.struct(
        F.col("doy").alias("doy"),
        F.col("value").cast("double").alias("filled_value"),
        F.lit(False).alias("is_filled")))
    pd_, nd = F.col("doy"), F.col("nd")
    gaps = F.transform(
        F.sequence(pd_ + 1, nd - 1),
        lambda d: F.struct(
            d.alias("doy"),
            (F.col("value") + (F.col("nv") - F.col("value"))
             * (d - pd_) * F.lit(1.0) / (nd - pd_)).alias("filled_value"),
            F.lit(True).alias("is_filled")))
    arr = F.when(nd.isNotNull() & (nd > pd_ + 1),
                 F.concat(own, gaps)).otherwise(own)
    return (nx.select("tile_id", "pixel_id", F.explode(arr).alias("r"))
            .select("tile_id", "pixel_id", F.col("r.doy").alias("doy"),
                    F.col("r.filled_value").alias("filled_value"),
                    F.col("r.is_filled").alias("is_filled")))


@register("c23_pixel_anomaly", f"""
WITH {{PIXELS}},
v AS (
  SELECT tile_id, pixel_id, doy, value FROM pixels WHERE value <> {BAND_NODATA}
),
w AS (
  SELECT tile_id, pixel_id, doy, value,
         CAST(count(*) OVER px AS BIGINT) AS n,
         CAST(sum(value) OVER px AS BIGINT) AS sx,
         CAST(sum(value * value) OVER px AS BIGINT) AS sxx
  FROM v WINDOW px AS (PARTITION BY tile_id, pixel_id)
)
SELECT tile_id, pixel_id, doy, value,
       (n * value - sx) * 1e0 / sqrt(n * sxx - sx * sx) AS z
FROM w
WHERE n * sxx - sx * sx > 0
  AND (n * value - sx) * (n * value - sx) >= 4 * (n * sxx - sx * sx)
""".replace("{PIXELS}", PIXELS_SQL))
def c23_pixel_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C23: per-pixel temporal anomaly screen — observations at least
    2 population standard deviations from their pixel's time-stack
    mean (cloud-shadow / sensor-glitch flagging downstream of the
    composites).

    Exactness: the MEMBERSHIP test is pure integer arithmetic —
    z² ≥ 4 ⟺ (n·x − Σx)² ≥ 4·(n·Σx² − (Σx)²) — so which rows
    qualify never depends on float rounding; the reported z is then
    one IEEE sqrt + one division (both correctly rounded, identical
    across engines). Degenerate stacks (zero variance) are excluded.

    Scale shape: one unordered window over (tile, pixel) — same
    partitioning as every other stack operator, no join, no second
    scan."""
    px = pixel_plane(spark, sf_dir).filter(F.col("value") != BAND_NODATA)
    win = Window.partitionBy("tile_id", "pixel_id")
    w = (px.select("tile_id", "pixel_id", "doy", "value")
         .withColumn("n", F.count(F.lit(1)).over(win).cast("long"))
         .withColumn("sx", F.sum("value").over(win).cast("long"))
         .withColumn("sxx", F.sum(F.col("value") * F.col("value"))
                     .over(win).cast("long")))
    dev = F.col("n") * F.col("value") - F.col("sx")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (w.filter((den > 0) & (dev * dev >= 4 * den))
            .select("tile_id", "pixel_id", "doy", "value",
                    (dev * 1.0 / F.sqrt(den)).alias("z")))


@register("c24_temporal_smooth", f"""
WITH {{PIXELS}},
v AS (
  SELECT tile_id, pixel_id, doy, value FROM pixels
  WHERE value <> {BAND_NODATA}
),
w AS (
  SELECT tile_id, pixel_id, doy, value,
         lag(value, 2)  OVER px AS vm2, lag(doy, 2)  OVER px AS dm2,
         lag(value, 1)  OVER px AS vm1, lag(doy, 1)  OVER px AS dm1,
         lead(value, 1) OVER px AS vp1, lead(doy, 1) OVER px AS dp1,
         lead(value, 2) OVER px AS vp2, lead(doy, 2) OVER px AS dp2
  FROM v WINDOW px AS (PARTITION BY tile_id, pixel_id ORDER BY doy)
)
SELECT tile_id, pixel_id, doy, value,
       CAST(-3 * vm2 + 12 * vm1 + 17 * value + 12 * vp1 - 3 * vp2
            AS BIGINT) AS sg_num,
       (-3 * vm2 + 12 * vm1 + 17 * value + 12 * vp1 - 3 * vp2) * 1e0 / 35
         AS smoothed
FROM w
WHERE dm2 = doy - 2 AND dm1 = doy - 1 AND dp1 = doy + 1 AND dp2 = doy + 2
""".replace("{PIXELS}", PIXELS_SQL))
def c24_temporal_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C24: Savitzky-Golay temporal smoothing — the standard EO
    time-series noise treatment downstream of compositing (Chen et
    al. 2004's S-G NDVI reconstruction; the reference densifies and
    composites but ships no smoother, maestro.py:550-564). Quadratic
    S-G, window 5, integer kernel (-3, 12, 17, 12, -3)/35 applied
    wherever a pixel has five consecutive-doy valid observations;
    runs shorter than the window pass through untouched (they simply
    emit no smoothed row — no edge padding, no extrapolation).

    Exactness: the convolution numerator is a pure int64 dot product
    (sg_num), so row membership and the reported integer are
    engine-exact; the final /35 is one IEEE division. The
    consecutive-doy guard is integer equality on lag/lead doys — a
    gap (cloudy slot) breaks the run instead of silently convolving
    across it.

    Scale shape: ONE ordered window over (tile, pixel) — the same
    hash partitioning every stack operator uses, no densify join, no
    self-join; lag/lead are O(1) per row in a single sort within
    partitions. At 100 TB the sort amortizes across all four
    neighbors (one window, eight frame columns)."""
    px = pixel_plane(spark, sf_dir).filter(F.col("value") != BAND_NODATA)
    win = Window.partitionBy("tile_id", "pixel_id").orderBy("doy")
    w = (px.select("tile_id", "pixel_id", "doy", "value")
         .withColumn("vm2", F.lag("value", 2).over(win))
         .withColumn("dm2", F.lag("doy", 2).over(win))
         .withColumn("vm1", F.lag("value", 1).over(win))
         .withColumn("dm1", F.lag("doy", 1).over(win))
         .withColumn("vp1", F.lead("value", 1).over(win))
         .withColumn("dp1", F.lead("doy", 1).over(win))
         .withColumn("vp2", F.lead("value", 2).over(win))
         .withColumn("dp2", F.lead("doy", 2).over(win)))
    num = (F.lit(-3) * F.col("vm2") + F.lit(12) * F.col("vm1")
           + F.lit(17) * F.col("value") + F.lit(12) * F.col("vp1")
           - F.lit(3) * F.col("vp2"))
    return (w.filter((F.col("dm2") == F.col("doy") - 2)
                     & (F.col("dm1") == F.col("doy") - 1)
                     & (F.col("dp1") == F.col("doy") + 1)
                     & (F.col("dp2") == F.col("doy") + 2))
            .select("tile_id", "pixel_id", "doy", "value",
                    num.cast("long").alias("sg_num"),
                    (num * 1e0 / 35).alias("smoothed")))


@register("c27_phenology", """
WITH {PIXELS},
v AS (
  SELECT tile_id, pixel_id, doy, CAST(value AS BIGINT) AS value
  FROM pixels WHERE value <> -9999
),
w AS (
  SELECT tile_id, pixel_id, doy, value,
         min(value) OVER px AS base_value,
         max(value) OVER px AS peak_value
  FROM v WINDOW px AS (PARTITION BY tile_id, pixel_id)
)
SELECT tile_id, pixel_id,
       CAST(count(*) AS BIGINT) AS n_obs,
       CAST(any_value(base_value) AS BIGINT) AS base_value,
       CAST(any_value(peak_value) AS BIGINT) AS peak_value,
       CAST(min(CASE WHEN value = peak_value THEN doy END) AS BIGINT)
         AS peak_doy,
       CAST(min(CASE WHEN 5 * (value - base_value)
                          >= peak_value - base_value THEN doy END)
            AS BIGINT) AS sos_doy,
       CAST(max(CASE WHEN 5 * (value - base_value)
                          >= peak_value - base_value THEN doy END)
            AS BIGINT) AS eos_doy,
       CAST(max(CASE WHEN 5 * (value - base_value)
                          >= peak_value - base_value THEN doy END)
            - min(CASE WHEN 5 * (value - base_value)
                            >= peak_value - base_value THEN doy END)
            AS BIGINT) AS season_len
FROM w GROUP BY tile_id, pixel_id
HAVING count(*) >= 4 AND any_value(peak_value) > any_value(base_value)
""".replace("{PIXELS}", PIXELS_SQL))
def c27_phenology(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C27: per-pixel phenology metrics — the TIMESAT season
    descriptors (Jönsson & Eklundh 2004) the EO community runs on
    exactly the composited stacks this engine builds (the reference
    stops at compositing; C21-C24 trend/gap/anomaly/smoothing are the
    other members of this post-composite family). Per pixel: base
    (stack min), peak (max) with its first DOY, and the 20%-amplitude
    season boundaries — SOS/EOS = first/last DOY where the value
    clears base + 0.2x(peak-base), the standard TIMESAT threshold
    rule. Pixels with fewer than 4 clear observations or zero
    amplitude emit nothing (no season to describe).

    Exactness: the 20% threshold is cross-multiplied to pure integers
    (5x(value-base) >= peak-base) — no division anywhere, so row
    membership and every metric are engine-exact.

    Scale shape: one UNORDERED window over (tile, pixel) for
    base/peak (whole-partition frame, no sort cost beyond the hash
    partitioning every stack operator shares) and one groupBy on the
    same key — Catalyst elides the second exchange. At 100 TB this is
    a single pass over the plane."""
    px = (pixel_plane(spark, sf_dir)
          .filter(F.col("value") != BAND_NODATA)
          .select("tile_id", "pixel_id", "doy",
                  F.col("value").cast("long").alias("value")))
    win = Window.partitionBy("tile_id", "pixel_id")
    w = (px.withColumn("base_value", F.min("value").over(win))
         .withColumn("peak_value", F.max("value").over(win)))
    in_season = (5 * (F.col("value") - F.col("base_value"))
                 >= F.col("peak_value") - F.col("base_value"))
    return (w.groupBy("tile_id", "pixel_id")
            .agg(F.count(F.lit(1)).alias("n_obs"),
                 F.first("base_value").alias("base_value"),
                 F.first("peak_value").alias("peak_value"),
                 F.min(F.when(F.col("value") == F.col("peak_value"),
                              F.col("doy"))).cast("long").alias("peak_doy"),
                 F.min(F.when(in_season, F.col("doy")))
                 .cast("long").alias("sos_doy"),
                 F.max(F.when(in_season, F.col("doy")))
                 .cast("long").alias("eos_doy"))
            .withColumn("season_len",
                        (F.col("eos_doy") - F.col("sos_doy")).cast("long"))
            .filter((F.col("n_obs") >= 4)
                    & (F.col("peak_value") > F.col("base_value"))))


@register("c25_zonal_stats", f"""
WITH {{PIXELS}},
v AS (
  SELECT tile_id, pixel_id // 64 AS zone_id, doy, value
  FROM pixels WHERE value <> {BAND_NODATA}
)
SELECT tile_id, zone_id, doy,
       CAST(count(*) AS BIGINT) AS n_valid,
       CAST(min(value) AS BIGINT) AS v_min,
       CAST(max(value) AS BIGINT) AS v_max,
       CAST(sum(value) AS BIGINT) AS v_sum,
       CAST(sum(value) AS BIGINT) * 1e0 / count(*) AS v_mean
FROM v GROUP BY tile_id, zone_id, doy
""".replace("{PIXELS}", PIXELS_SQL))
def c25_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C25: zonal statistics — per-zone aggregates of a band over
    polygon zones, the raster-vector summary every EO product ships
    (county-level NDVI means etc.). Zones here are the 8x8-pixel
    blocks of the synthetic plane (pixel_id // 64), standing in for
    rasterized polygon ids; the reference has no zonal layer (its
    quicklooks aggregate visually, image.py) so this is beyond-
    reference surface in the same family as C21-C24.

    Exactness: count/min/max/sum are int64; the mean is ONE IEEE
    division of exact integers. Scale shape: a single groupBy with
    map-side combine on (tile, zone, doy) — zone assignment is a
    projection, so at 100 TB this is a pure partial-aggregate
    pipeline, no join against a zone table (a real polygon layer
    would broadcast its rasterized lookup)."""
    px = pixel_plane(spark, sf_dir).filter(F.col("value") != BAND_NODATA)
    return (px.select("tile_id",
                      F.floor(F.col("pixel_id") / 64).cast("long")
                      .alias("zone_id"), "doy", "value")
            .groupBy("tile_id", "zone_id", "doy")
            .agg(F.count(F.lit(1)).cast("long").alias("n_valid"),
                 F.min("value").cast("long").alias("v_min"),
                 F.max("value").cast("long").alias("v_max"),
                 F.sum("value").cast("long").alias("v_sum"))
            .withColumn("v_mean", F.col("v_sum") * 1e0 / F.col("n_valid")))


# C26 -------------------------------------------------------------------------

@register("c26_blend_medoid", f"""
WITH {{PIXELS}},
clear AS (
  SELECT tile_id, pixel_id, doy, value AS b1,
         ((value + 10000) * 31 + doy * 97) % 20001 - 10000 AS b2
  FROM pixels WHERE quality IN (4,5,6)
),
dist AS (
  SELECT i.tile_id AS tile_id, i.pixel_id AS pixel_id, i.doy AS doy,
         i.b1 AS b1,
         sum(abs(i.b1 - j.b1) + abs(i.b2 - j.b2)) AS sd,
         count(*) AS n_clear
  FROM clear i JOIN clear j
    ON i.tile_id = j.tile_id AND i.pixel_id = j.pixel_id
  GROUP BY i.tile_id, i.pixel_id, i.doy, i.b1
),
pick AS (
  SELECT tile_id, pixel_id,
         min((sd * 32 + doy) * 20002 + (b1 + 10001)) AS pk,
         any_value(n_clear) AS n_clear
  FROM dist GROUP BY tile_id, pixel_id
),
allpix AS (SELECT DISTINCT tile_id, pixel_id FROM pixels)
SELECT a.tile_id, a.pixel_id,
       CAST(coalesce(p.pk % 20002 - 10001, {BAND_NODATA}) AS BIGINT) AS medoid_value,
       CAST(coalesce((p.pk // 20002) % 32, -1) AS BIGINT) AS medoid_doy,
       CAST(coalesce(p.n_clear, 0) AS BIGINT) AS n_clear
FROM allpix a LEFT JOIN pick p
  ON a.tile_id = p.tile_id AND a.pixel_id = p.pixel_id
""".replace("{PIXELS}", PIXELS_SQL))
def c26_blend_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C26: L1 MEDOID composite (Roberts et al. 2017 / Digital Earth
    Australia's medoid product) — per pixel, the clear observation
    minimizing the summed L1 distance to all other clear observations
    in a 2-band space; ties break (doy, b1) ascending; pixels with no
    clear observation report (nodata, -1, 0). Exact-integer distances
    make the pick engine-independent.

    The oracle is the textbook O(T²) SELF-JOIN (one row per ordered
    clear pair, re-aggregated, packed-integer argmin); the Spark plan
    is the at-scale shape — one groupBy collecting the bounded clear
    stack, pairwise sums via higher-order array expressions inside
    codegen, no second shuffle. A hash match proves the two plans
    compute the same composite."""
    return blend.blend_medoid(pixel_plane(spark, sf_dir))


# C28-C30 — focal (neighborhood) operators + overview pyramid (round 8) -------
# The reference's raster ops are all per-pixel/per-stack; the standard
# neighborhood post-processing it leaves to GDAL (focal smoothing,
# sieve/majority filtering of masks, gdaladdo overview pyramids — the
# reference only emits pyramids inside COGs, image.py:309-331) lands
# here as relational operators (operators/focal.py). The oracle is the
# textbook coordinate-range SELF-JOIN; the Spark plan is the at-scale
# scatter/partial-aggregate halo exchange. A hash match proves the two
# formulations compute the same neighborhood statistics.

_GRID_W = 32          # 512 pixels per tile laid out 16 rows x 32 cols
_GRID_H = 16

# One value per (tile, pixel): max over clear observations. Sparse by
# construction (pixels with no clear obs are absent) — which is what
# makes edge-aware focal semantics non-trivial.
_COMP_SQL = f"""
comp AS (
  SELECT tile_id, pixel_id // {_GRID_W} AS y, pixel_id % {_GRID_W} AS x,
         max(value) AS v
  FROM pixels
  WHERE quality IN (4,5,6) AND value <> {BAND_NODATA}
  GROUP BY tile_id, pixel_id
)
"""


def _comp_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _COMP_SQL: the composite cell plane (tile, y, x, v)."""
    px = pixel_plane(spark, sf_dir)
    return (px.filter(F.col("quality").isin(4, 5, 6)
                      & (F.col("value") != BAND_NODATA))
            .groupBy("tile_id", "pixel_id")
            .agg(F.max("value").alias("v"))
            .select("tile_id",
                    F.floor(F.col("pixel_id") / _GRID_W).cast("long").alias("y"),
                    (F.col("pixel_id") % _GRID_W).alias("x"),
                    "v"))


# Per-pixel temporal-mode CLASS plane (0 nodata, 1 clear, 2 not-clear,
# 3 saturated; packed-argmax tie toward the smaller class) — shared by
# C29 (focal majority) and C40 (cloud distance), SQL and Spark in
# lockstep like _COMP_SQL/_comp_cells.
_TMODE_SQL = f"""
cls AS (
  SELECT tile_id, pixel_id,
         CASE WHEN quality IN (4,5,6) THEN 1
              WHEN quality = 1 THEN 3
              WHEN quality = 0 THEN 0
              ELSE 2 END AS c
  FROM pixels
),
tmode AS (
  SELECT tile_id, pixel_id, 3 - (pk % 4) AS c
  FROM (SELECT tile_id, pixel_id, max(cnt * 4 + (3 - c)) AS pk
        FROM (SELECT tile_id, pixel_id, c, count(*) AS cnt
              FROM cls GROUP BY tile_id, pixel_id, c)
        GROUP BY tile_id, pixel_id)
),
cells AS (
  SELECT tile_id, pixel_id // {_GRID_W} AS y, pixel_id % {_GRID_W} AS x, c
  FROM tmode
)
"""


def _tmode_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _TMODE_SQL: (tile_id, y, x, c)."""
    px = pixel_plane(spark, sf_dir)
    c = (F.when(F.col("quality").isin(4, 5, 6), 1)
         .when(F.col("quality") == 1, 3)
         .when(F.col("quality") == 0, 0)
         .otherwise(2))
    per_class = (px.select("tile_id", "pixel_id", c.alias("c"))
                 .groupBy("tile_id", "pixel_id", "c")
                 .agg(F.count(F.lit(1)).alias("cnt")))
    return (per_class
            .groupBy("tile_id", "pixel_id")
            .agg(F.max(F.col("cnt") * 4 + (F.lit(3) - F.col("c"))).alias("pk"))
            .select("tile_id",
                    F.floor(F.col("pixel_id") / _GRID_W).cast("long").alias("y"),
                    (F.col("pixel_id") % _GRID_W).alias("x"),
                    (F.lit(3) - F.col("pk") % 4).alias("c")))


@register("c28_focal_stats", f"""
WITH {{PIXELS}},
{_COMP_SQL}
SELECT p.tile_id AS tile_id, p.y * {_GRID_W} + p.x AS pixel_id,
       CAST(count(*) AS BIGINT) AS n_nbrs,
       CAST(sum(q.v) AS BIGINT) AS sum_nbrs,
       CAST(min(q.v) AS BIGINT) AS min_nbrs,
       CAST(max(q.v) AS BIGINT) AS max_nbrs,
       sum(q.v) * 1e0 / count(*) AS focal_mean
FROM comp p JOIN comp q
  ON p.tile_id = q.tile_id
 AND q.y BETWEEN p.y - 1 AND p.y + 1
 AND q.x BETWEEN p.x - 1 AND p.x + 1
GROUP BY p.tile_id, p.y, p.x
""".replace("{PIXELS}", PIXELS_SQL))
def c28_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C28: 3x3 edge-aware focal box statistics over the clear-max
    composite — count/sum/min/max/mean of the neighbors that EXIST
    (image edges and nodata holes shrink the kernel, GDAL focal
    semantics). Only existing cells are emitted as centers.

    Scale shape: scatter (9 contribution rows per cell, collapsed by
    map-side combine before the exchange) -> one groupBy on the
    target cell -> join back on the aggregation key. The scatter IS
    the halo exchange: block-interior contributions pre-reduce inside
    their partition; only border rows cross. The oracle is the
    coordinate-range self-join formulation of the same kernel."""
    cells = _comp_cells(spark, sf_dir)
    from .operators.focal import focal_box_stats
    out = focal_box_stats(cells, radius=1, height=_GRID_H, width=_GRID_W)
    return out.select("tile_id",
                      (F.col("y") * _GRID_W + F.col("x")).alias("pixel_id"),
                      "n_nbrs", "sum_nbrs", "min_nbrs", "max_nbrs",
                      "focal_mean")


@register("c29_focal_majority", f"""
WITH {{PIXELS}},
{_TMODE_SQL},
nbr AS (
  SELECT p.tile_id AS tile_id, p.y AS y, p.x AS x, q.c AS c, count(*) AS cnt
  FROM cells p JOIN cells q
    ON p.tile_id = q.tile_id
   AND q.y BETWEEN p.y - 1 AND p.y + 1
   AND q.x BETWEEN p.x - 1 AND p.x + 1
  GROUP BY p.tile_id, p.y, p.x, q.c
),
pick AS (
  SELECT tile_id, y, x, max(cnt * 4 + (3 - c)) AS pk,
         sum(cnt) AS n_nbrs
  FROM nbr GROUP BY tile_id, y, x
)
SELECT tile_id, y * {_GRID_W} + x AS pixel_id,
       CAST(3 - pk % 4 AS BIGINT) AS maj_class,
       CAST(pk // 4 AS BIGINT) AS maj_count,
       CAST(n_nbrs AS BIGINT) AS n_nbrs
FROM pick
""".replace("{PIXELS}", PIXELS_SQL))
def c29_focal_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C29: 3x3 focal majority (sieve/mode filter) over the per-pixel
    temporal-mode class of the quality mask — the standard
    classification clean-up pass (isolated misclassified pixels take
    their neighborhood's majority class). Classes: 0 nodata, 1 clear,
    2 not-clear, 3 saturated; both the temporal mode and the focal
    mode tie-break toward the SMALLER class via the packed-argmax
    idiom (cnt*4 + (3-c) under MAX), so every aggregate is a codegen
    HashAggregate — same trick as the mosaic kernel (mosaic.py).

    Scale shape: scatter -> count per (cell, class) (the map-side-
    combinable stage carries the volume) -> argmax over <=4 rows per
    cell -> join back. Oracle: range self-join + the same packing."""
    cells = _tmode_cells(spark, sf_dir)
    from .operators.focal import focal_majority
    out = focal_majority(cells, n_classes=4, radius=1,
                         height=_GRID_H, width=_GRID_W)
    return out.select("tile_id",
                      (F.col("y") * _GRID_W + F.col("x")).alias("pixel_id"),
                      "maj_class", "maj_count", "n_nbrs")


@register("c30_pyramid", f"""
WITH {{PIXELS}},
{_COMP_SQL},
l1 AS (
  SELECT tile_id, y // 2 AS y, x // 2 AS x,
         count(*) AS n, sum(v) AS s
  FROM comp GROUP BY tile_id, y // 2, x // 2
),
l2 AS (
  SELECT tile_id, y // 2 AS y, x // 2 AS x,
         sum(n) AS n, sum(s) AS s
  FROM l1 GROUP BY tile_id, y // 2, x // 2
)
SELECT CAST(1 AS BIGINT) AS level, tile_id, y AS cell_y, x AS cell_x,
       CAST(n AS BIGINT) AS n_pixels, CAST(s AS BIGINT) AS sum_value,
       s * 1e0 / n AS mean_value
FROM l1
UNION ALL
SELECT CAST(2 AS BIGINT) AS level, tile_id, y, x,
       CAST(n AS BIGINT), CAST(s AS BIGINT), s * 1e0 / n
FROM l2
""".replace("{PIXELS}", PIXELS_SQL))
def c30_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C30: overview pyramid — 2x2 block-aggregate cascade over the
    composite cell plane, levels 1 (8x16 cells/tile) and 2 (4x8).
    The relational twin of gdaladdo / the COG overview IFDs the K1
    writer emits (sinks/cog.py; reference image.py:309-331), with
    exact integer (n, sum) carried so level L+1 derives from level L
    — the O(N) cascade, not O(N*levels) rescans — and the mean is
    one IEEE division per cell."""
    from .operators.focal import pyramid_levels
    return pyramid_levels(_comp_cells(spark, sf_dir), n_levels=2)


@register("c31_region_labels", f"""
WITH RECURSIVE {{PIXELS}},
{_COMP_SQL},
nodes AS (
  SELECT tile_id, y, x,
         tile_id * {_GRID_H * _GRID_W} + y * {_GRID_W} + x AS g
  FROM comp
),
e0 AS (
  SELECT a.g AS src, b.g AS dst
  FROM nodes a JOIN nodes b
    ON (b.g = a.g + 1 AND a.x < {_GRID_W - 1})
    OR (b.g = a.g + {_GRID_W} AND a.y < {_GRID_H - 1})
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
reach(src, n) AS (
  SELECT g, g FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.n
),
lab AS (SELECT src AS g, min(n) AS lbl FROM reach GROUP BY src),
sz AS (SELECT lbl, count(*) AS region_size FROM lab GROUP BY lbl)
SELECT n.tile_id AS tile_id, n.y * {_GRID_W} + n.x AS pixel_id,
       CAST(l.lbl % {_GRID_H * _GRID_W} AS BIGINT) AS region_id,
       CAST(s.region_size AS BIGINT) AS region_size
FROM nodes n JOIN lab l ON n.g = l.g JOIN sz s ON l.lbl = s.lbl
""".replace("{PIXELS}", PIXELS_SQL))
def c31_region_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C31: raster region labeling — 4-connected components of the
    clear-composite mask, each region labeled by its minimum packed
    cell id and annotated with its size (the relational core of
    GDAL polygonize + sieve; the reference delegates vectorization
    to GDAL/PostGIS, image.py:665-708).

    Spark side (operators/regions.py): min-label propagation with
    pointer jumping, looped to a driver-checked fixed point by
    ``functions/graph.iterate`` — O(log max-diameter) rounds of cell-id
    equi-joins, the GraphX connected-components shape. The oracle is
    a genuine recursive-CTE transitive closure (UNION-deduped) with
    min() collapsing each cell's reachable set — converged labels on
    both sides, so the hash match holds regardless of region shape
    or round count."""
    from .operators.regions import label_regions
    out = label_regions(_comp_cells(spark, sf_dir).select("tile_id", "y", "x"),
                        height=_GRID_H, width=_GRID_W)
    return out.select("tile_id",
                      (F.col("y") * _GRID_W + F.col("x")).alias("pixel_id"),
                      "region_id", "region_size")


@register("c32_texture_glcm", f"""
WITH {{PIXELS}},
{_COMP_SQL},
q AS (
  SELECT tile_id, y, x,
         least(greatest((v + 10000) // 2500, 0), 7) AS qv
  FROM comp
),
pairs AS (
  SELECT a.tile_id AS tile_id, a.qv AS qi, b.qv AS qj
  FROM q a JOIN q b
    ON a.tile_id = b.tile_id AND b.y = a.y AND b.x = a.x + 1
),
cm AS (
  SELECT tile_id, qi, qj, count(*) AS n
  FROM pairs GROUP BY tile_id, qi, qj
)
SELECT tile_id,
       CAST(sum(n) AS BIGINT) AS n_pairs,
       CAST(sum(n * (qi - qj) * (qi - qj)) AS BIGINT) AS contrast_num,
       CAST(sum(n * n) AS BIGINT) AS energy_num,
       CAST(sum(n * (840 // (1 + abs(qi - qj)))) AS BIGINT) AS hom_num840,
       sum(n * (qi - qj) * (qi - qj)) * 1e0 / sum(n) AS contrast,
       sum(n * (840 // (1 + abs(qi - qj)))) * 1e0 / (840 * sum(n))
         AS homogeneity
FROM cm GROUP BY tile_id
""".replace("{PIXELS}", PIXELS_SQL))
def c32_texture_glcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C32: GLCM texture metrics (Haralick et al. 1973) over the
    clear-max composite — horizontal-offset gray-level co-occurrence
    counts at 8 quantization levels, reduced to per-tile contrast,
    energy and homogeneity, the standard texture layer of EO land-
    cover stacks (GDAL exposes it via r.texture/Orfeo, outside the
    reference's pipeline like the rest of the C28+ family).

    Exactness: quantization is integer floor-division with clamps;
    contrast and energy numerators are exact int64; homogeneity's
    1/(1+|i-j|) weights are cross-multiplied by 840 = lcm(1..8) so
    the numerator is an exact integer too — each metric is ONE IEEE
    division. Scale shape: the neighbor pairing is the region-edge
    equi-join (co-partitioned on tile), the co-occurrence matrix is
    a bounded (tile x 8 x 8) groupBy with map-side combine, and the
    final rollup is tile-sized."""
    cells = _comp_cells(spark, sf_dir)
    qv = F.least(F.greatest(F.floor((F.col("v") + 10000) / 2500), F.lit(0)),
                 F.lit(7))
    q = cells.select("tile_id", "y", "x", qv.cast("long").alias("qv"))
    a = q.select(F.col("tile_id").alias("t"), F.col("y").alias("ay"),
                 F.col("x").alias("ax"), F.col("qv").alias("qi"))
    b = q.select(F.col("tile_id").alias("t2"), F.col("y").alias("by"),
                 F.col("x").alias("bx"), F.col("qv").alias("qj"))
    pairs = a.join(b, (F.col("t") == F.col("t2"))
                   & (F.col("by") == F.col("ay"))
                   & (F.col("bx") == F.col("ax") + 1))
    cm = (pairs.groupBy(F.col("t").alias("tile_id"), "qi", "qj")
          .agg(F.count(F.lit(1)).alias("n")))
    d2 = (F.col("qi") - F.col("qj")) * (F.col("qi") - F.col("qj"))
    hom_w = (F.lit(840) / (F.lit(1) + F.abs(F.col("qi") - F.col("qj")))) \
        .cast("long")
    return (cm.groupBy("tile_id")
            .agg(F.sum("n").cast("long").alias("n_pairs"),
                 F.sum(F.col("n") * d2).cast("long").alias("contrast_num"),
                 F.sum(F.col("n") * F.col("n")).cast("long")
                 .alias("energy_num"),
                 F.sum(F.col("n") * hom_w).cast("long").alias("hom_num840"),
                 (F.sum(F.col("n") * d2) * 1e0 / F.sum("n"))
                 .alias("contrast"),
                 (F.sum(F.col("n") * hom_w) * 1e0 / (840 * F.sum("n")))
                 .alias("homogeneity")))


@register("c33_slope_gradients", f"""
WITH {{PIXELS}},
{_COMP_SQL},
grads AS (
  SELECT p.tile_id AS tile_id, p.y AS y, p.x AS x,
         count(*) AS n,
         sum((q.x - p.x) * (2 - abs(q.y - p.y)) * q.v) AS gx,
         sum((q.y - p.y) * (2 - abs(q.x - p.x)) * q.v) AS gy
  FROM comp p JOIN comp q
    ON p.tile_id = q.tile_id
   AND q.y BETWEEN p.y - 1 AND p.y + 1
   AND q.x BETWEEN p.x - 1 AND p.x + 1
  GROUP BY p.tile_id, p.y, p.x
)
SELECT tile_id, y * {_GRID_W} + x AS pixel_id,
       CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       (gx * gx + gy * gy) * 1e0 / 64 AS slope_sq
FROM grads WHERE n = 9
""".replace("{PIXELS}", PIXELS_SQL))
def c33_slope_gradients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C33: Horn 3x3 slope gradients (the gdaldem-slope core, Horn
    1981) over the clear-max composite: Sobel-weighted finite
    differences with exact int64 numerators, slope magnitude squared
    as the one IEEE division — atan stays presentation-side because
    libm atan is not bit-portable across engines. Cells without a
    complete 3x3 neighborhood (edges, nodata holes) are not emitted,
    matching gdaldem. Same scatter/halo-exchange plan as C28; the
    oracle is the coordinate-range self-join with CASE-free integer
    weight expressions."""
    from .operators.focal import focal_gradients
    out = focal_gradients(_comp_cells(spark, sf_dir),
                          height=_GRID_H, width=_GRID_W)
    return out.select("tile_id",
                      (F.col("y") * _GRID_W + F.col("x")).alias("pixel_id"),
                      "gx", "gy", "slope_sq")


@register("c34_focal_median", f"""
WITH {{PIXELS}},
{_COMP_SQL},
nbr AS (
  SELECT p.tile_id AS tile_id, p.y AS y, p.x AS x, q.v AS v
  FROM comp p JOIN comp q
    ON p.tile_id = q.tile_id
   AND q.y BETWEEN p.y - 1 AND p.y + 1
   AND q.x BETWEEN p.x - 1 AND p.x + 1
),
ranked AS (
  SELECT tile_id, y, x, v,
         row_number() OVER (PARTITION BY tile_id, y, x ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY tile_id, y, x) AS n
  FROM nbr
)
SELECT tile_id, y * {_GRID_W} + x AS pixel_id,
       CAST(v AS BIGINT) AS median_v, CAST(n AS BIGINT) AS n_nbrs
FROM ranked WHERE rn = (n + 1) // 2
""".replace("{PIXELS}", PIXELS_SQL))
def c34_focal_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C34: 3x3 focal median over the clear-max composite — the
    salt-and-pepper despeckle filter (the value-domain sibling of
    C29's class-domain sieve). Deterministic lower-median rule
    (element ceil(n/2) of the sorted existing neighbors) keeps even
    counts integer-exact in both engines. Spark side collects the
    <=9-bounded neighbor array per cell (sort_array + element_at in
    codegen — no window sort over the scatter volume); the oracle is
    the self-join + row_number formulation of the same rule."""
    from .operators.focal import focal_median
    out = focal_median(_comp_cells(spark, sf_dir), radius=1,
                       height=_GRID_H, width=_GRID_W)
    return out.select("tile_id",
                      (F.col("y") * _GRID_W + F.col("x")).alias("pixel_id"),
                      "median_v", "n_nbrs")


@register("c35_change_matrix", f"""
WITH {PIXELS_SQL},
classed AS (
  SELECT tile_id, pixel_id,
         CASE WHEN doy <= {N_DATES // 2} THEN 1 ELSE 2 END AS half,
         quality
  FROM pixels
),
counts AS (
  SELECT tile_id, pixel_id, half, quality, count(*) AS cnt
  FROM classed GROUP BY tile_id, pixel_id, half, quality
),
modes AS (
  SELECT tile_id, pixel_id,
         max(CASE WHEN half = 1 THEN cnt * 16 + (15 - quality) END) AS p1,
         max(CASE WHEN half = 2 THEN cnt * 16 + (15 - quality) END) AS p2
  FROM counts GROUP BY tile_id, pixel_id
)
SELECT CAST(15 - (p1 % 16) AS BIGINT) AS from_class,
       CAST(15 - (p2 % 16) AS BIGINT) AS to_class,
       count(*) AS n_pixels
FROM modes WHERE p1 IS NOT NULL AND p2 IS NOT NULL
GROUP BY from_class, to_class
""")
def c35_change_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C35: land-cover change (from-to transition) matrix — the classic
    post-classification change detection product (the cross-tabulation
    step of every LULC change study; the reference stops at per-period
    composites and leaves change analysis to QGIS/SCP). Each pixel's
    class per time-half is the temporal MODE of its quality class with
    C29's deterministic packed-argmax tie-break (``cnt*16 + (15 -
    class)``: higher count wins, then the SMALLER class — all exact
    integers), and the matrix counts pixels per (from, to) pair.

    Scale shape: three map-side-combinable groupBys on shrinking keys
    — (tile, pixel, half, class) counts, then a conditional-aggregate
    PIVOT to one row per (tile, pixel) (no self-join: the oracle's
    two-half join is expressed as max(CASE) so the gram plane is
    evaluated once, the q2/q15 groupBy/join-back lesson), then the
    bounded 12x12 transition key. No window, no shuffle wider than
    the pixel count."""
    px = pixel_plane(spark, sf_dir)
    half = F.when(F.col("doy") <= N_DATES // 2, 1).otherwise(2)
    counts = (px.select("tile_id", "pixel_id", half.alias("half"),
                        "quality")
              .groupBy("tile_id", "pixel_id", "half", "quality")
              .agg(F.count(F.lit(1)).alias("cnt")))
    packed = F.col("cnt") * 16 + (15 - F.col("quality"))
    modes = (counts
             .groupBy("tile_id", "pixel_id")
             .agg(F.max(F.when(F.col("half") == 1, packed)).alias("p1"),
                  F.max(F.when(F.col("half") == 2, packed)).alias("p2"))
             .filter(F.col("p1").isNotNull() & F.col("p2").isNotNull()))
    return (modes
            .groupBy((15 - F.col("p1") % 16).cast("long").alias("from_class"),
                     (15 - F.col("p2") % 16).cast("long").alias("to_class"))
            .agg(F.count(F.lit(1)).alias("n_pixels")))


_D8_EDGE_DY = ("CASE d.fdir WHEN 1 THEN -1 WHEN 2 THEN -1 WHEN 3 THEN -1 "
               "WHEN 6 THEN 1 WHEN 7 THEN 1 WHEN 8 THEN 1 ELSE 0 END")
_D8_EDGE_DX = ("CASE d.fdir WHEN 1 THEN -1 WHEN 4 THEN -1 WHEN 6 THEN -1 "
               "WHEN 3 THEN 1 WHEN 5 THEN 1 WHEN 8 THEN 1 ELSE 0 END")


@register("c36_flow_routing", f"""
WITH RECURSIVE {PIXELS_SQL},
{_COMP_SQL},
offs(dir, dy, dx, w) AS (
  VALUES (1,-1,-1,1),(2,-1,0,2),(3,-1,1,1),(4,0,-1,2),
         (5,0,1,2),(6,1,-1,1),(7,1,0,2),(8,1,1,1)
),
cand AS (
  SELECT c.tile_id, c.y, c.x,
         max(CASE WHEN n.v < c.v
                  THEN ((c.v - n.v) * (c.v - n.v) * o.w) * 16
                       + (8 - o.dir) END) AS pk
  FROM comp c
  CROSS JOIN offs o
  LEFT JOIN comp n ON n.tile_id = c.tile_id
                  AND n.y = c.y + o.dy AND n.x = c.x + o.dx
  GROUP BY c.tile_id, c.y, c.x
),
dirs AS (
  SELECT tile_id, y, x,
         CASE WHEN pk IS NULL THEN 0 ELSE 8 - pk % 16 END AS fdir
  FROM cand
),
edges AS (
  SELECT d.tile_id, d.y, d.x,
         d.y + {_D8_EDGE_DY} AS ny,
         d.x + {_D8_EDGE_DX} AS nx
  FROM dirs d WHERE d.fdir > 0
),
walk AS (
  SELECT tile_id, y AS cy, x AS cx FROM dirs
  UNION ALL
  SELECT e.tile_id, e.ny, e.nx
  FROM walk w JOIN edges e
    ON e.tile_id = w.tile_id AND e.y = w.cy AND e.x = w.cx
),
acc AS (
  SELECT tile_id, cy, cx, count(*) AS n FROM walk GROUP BY tile_id, cy, cx
)
SELECT d.tile_id AS tile_id, d.y * {_GRID_W} + d.x AS pixel_id,
       CAST(d.fdir AS BIGINT) AS fdir, CAST(a.n AS BIGINT) AS acc
FROM dirs d JOIN acc a
  ON a.tile_id = d.tile_id AND a.cy = d.y AND a.cx = d.x
""".replace("{PIXELS}", PIXELS_SQL))
def c36_flow_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C36: D8 hydrological flow routing over the composite — flow
    DIRECTION (O'Callaghan & Mark 1984 steepest descent; exact-integer
    cross-multiplied squared-distance metric, packed-argmax tie-break)
    plus flow ACCUMULATION (upstream contributing area — the statistic
    stream networks are thresholded from; gdaldem/GRASS r.watershed
    territory the reference never enters).

    The flow graph is a functional forest over strictly-decreasing
    values, so accumulation is exact: the Spark side advances an
    anonymous-walker frontier (compressed to one row per cell per
    round) along the out-edges until empty — the CCL-style driver-
    checked fixed point — while the oracle replays the same walks
    with a RECURSIVE CTE. A hash match proves direction metric,
    tie-breaks, edge derivation AND every path length agree."""
    from .operators.focal import flow_accumulation, flow_direction
    # r14: eager cut — dirs is grid-bounded (≤ cells rows) but feeds
    # BOTH flow_accumulation's edge derivation and the final join, so
    # the uncut plan ran the scatter+argmax direction pass (and the
    # composite build above it) twice per action
    dirs = flow_direction(_comp_cells(spark, sf_dir),
                          height=_GRID_H, width=_GRID_W) \
        .localCheckpoint(eager=True)
    acc = flow_accumulation(dirs)
    return (dirs.join(acc, ["tile_id", "y", "x"])
            .select("tile_id",
                    (F.col("y") * _GRID_W + F.col("x")).alias("pixel_id"),
                    "fdir", "acc"))


@register("c37_region_metrics", f"""
WITH RECURSIVE {{PIXELS}},
{_COMP_SQL},
nodes AS (
  SELECT tile_id, y, x,
         tile_id * {_GRID_H * _GRID_W} + y * {_GRID_W} + x AS g
  FROM comp
),
e0 AS (
  SELECT a.g AS src, b.g AS dst
  FROM nodes a JOIN nodes b
    ON (b.g = a.g + 1 AND a.x < {_GRID_W - 1})
    OR (b.g = a.g + {_GRID_W} AND a.y < {_GRID_H - 1})
),
edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
reach(src, n) AS (
  SELECT g, g FROM nodes
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.n
),
lab AS (SELECT src AS g, min(n) AS lbl FROM reach GROUP BY src),
deg AS (
  SELECT n.g, count(e.dst) AS d4
  FROM nodes n LEFT JOIN edges e ON e.src = n.g
  GROUP BY n.g
)
SELECT n.tile_id AS tile_id,
       CAST(l.lbl % {_GRID_H * _GRID_W} AS BIGINT) AS region_id,
       count(*) AS area,
       CAST(min(n.y) AS BIGINT) AS min_y, CAST(max(n.y) AS BIGINT) AS max_y,
       CAST(min(n.x) AS BIGINT) AS min_x, CAST(max(n.x) AS BIGINT) AS max_x,
       CAST(sum(4 - d.d4) AS BIGINT) AS perimeter,
       CAST(sum(4 - d.d4) AS BIGINT) * CAST(sum(4 - d.d4) AS BIGINT)
         * 1e0 / count(*) AS shape_index
FROM nodes n JOIN lab l ON n.g = l.g JOIN deg d ON d.g = n.g
GROUP BY n.tile_id, l.lbl
""".replace("{PIXELS}", PIXELS_SQL))
def c37_region_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C37: per-region patch metrics over the C31 connected components
    — area, bounding box, PERIMETER, and the P²/A shape index: the
    FRAGSTATS/landscape-ecology patch geometry a classification
    product feeds into (the reference's vectorization ends at GDAL
    polygonize; the metrics live downstream in QGIS/FRAGSTATS).

    Perimeter needs no geometry: within a 4-connected labeling every
    existing 4-neighbor of a mask cell shares its region, so each
    cell contributes ``4 − deg4`` boundary sides and the region
    perimeter is one sum. deg4 rides the same scatter/partial-agg
    halo exchange as the focal family (4-offset scatter, count at the
    target); everything is exact int64 except the one IEEE division
    in the shape index.

    Scale shape: label propagation (c31's pointer-jumped min-label) +
    ONE 4-offset scatter groupBy + two shrinking aggregates; the
    region groupBy reuses the label join's partitioning."""
    from .operators.focal import _scatter
    from .operators.regions import label_regions

    mask = _comp_cells(spark, sf_dir).select("tile_id", "y", "x")
    labels = label_regions(mask, height=_GRID_H, width=_GRID_W)
    # 4-neighbor degree: scatter each cell to its 4 orthogonal
    # neighbors, count arrivals at existing cells
    sc = _scatter(mask.withColumn("v", F.lit(1)), 1, _GRID_H, _GRID_W,
                  ["v"])
    ortho = sc.filter((F.abs(F.col("o_dy")) + F.abs(F.col("o_dx"))) == 1)
    deg = (ortho.groupBy("t_id", "ty", "tx")
           .agg(F.count(F.lit(1)).alias("d4")))
    cells = (labels.join(
        deg, (F.col("tile_id") == F.col("t_id"))
        & (F.col("y") == F.col("ty")) & (F.col("x") == F.col("tx")),
        "left")
        .select("tile_id", "y", "x", "region_id",
                F.coalesce(F.col("d4"), F.lit(0)).alias("d4")))
    per = F.sum(4 - F.col("d4")).cast("long")
    return (cells.groupBy("tile_id", "region_id")
            .agg(F.count(F.lit(1)).alias("area"),
                 F.min("y").cast("long").alias("min_y"),
                 F.max("y").cast("long").alias("max_y"),
                 F.min("x").cast("long").alias("min_x"),
                 F.max("x").cast("long").alias("max_x"),
                 per.alias("perimeter"),
                 (per * per * 1e0 / F.count(F.lit(1)))
                 .alias("shape_index")))


# Cloud classes for the shadow projector: the SCL-like codes 8/9/10
# (cloud medium/high probability, cirrus) of the synthetic plane.
_SHADOW_CLOUD = (8, 9, 10)
_SHADOW_LEN = 2                  # projected shadow length in cells


@register("c38_cloud_shadow", f"""
WITH {{PIXELS}},
cells AS (
  SELECT tile_id, doy, pixel_id // {_GRID_W} AS y,
         pixel_id % {_GRID_W} AS x, quality
  FROM pixels
),
sun AS (
  -- per-scene sun direction: deterministic from the scene's doy
  -- (8 azimuth sectors -> D8 unit offsets, shadow cast OPPOSITE)
  SELECT DISTINCT tile_id, doy,
         CASE doy % 8 WHEN 0 THEN -1 WHEN 1 THEN -1 WHEN 2 THEN -1
                      WHEN 3 THEN 0 WHEN 4 THEN 1 WHEN 5 THEN 1
                      WHEN 6 THEN 1 ELSE 0 END AS sdy,
         CASE doy % 8 WHEN 0 THEN -1 WHEN 1 THEN 0 WHEN 2 THEN 1
                      WHEN 3 THEN 1 WHEN 4 THEN 1 WHEN 5 THEN 0
                      WHEN 6 THEN -1 ELSE -1 END AS sdx
  FROM cells
),
shadow AS (
  SELECT DISTINCT c.tile_id, c.doy,
         c.y + k.k * s.sdy AS y, c.x + k.k * s.sdx AS x
  FROM cells c
  JOIN sun s ON s.tile_id = c.tile_id AND s.doy = c.doy
  CROSS JOIN (SELECT unnest([{{_SHADOW_KS}}]) AS k) k
  WHERE c.quality IN {_SHADOW_CLOUD}
),
flagged AS (
  SELECT c.tile_id, c.doy, c.quality,
         sh.y IS NOT NULL AS shadowed
  FROM cells c
  LEFT JOIN shadow sh ON sh.tile_id = c.tile_id AND sh.doy = c.doy
                     AND sh.y = c.y AND sh.x = c.x
)
SELECT tile_id, CAST(doy AS BIGINT) AS doy,
       CAST(sum(CASE WHEN quality IN {_SHADOW_CLOUD}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_cloud,
       CAST(sum(CASE WHEN shadowed AND quality IN (4, 5, 6)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_shadowed_clear,
       CAST(sum(CASE WHEN quality IN (4, 5, 6) AND NOT shadowed
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clear_kept
FROM flagged GROUP BY tile_id, doy
""".replace("{PIXELS}", PIXELS_SQL)
   .replace("{_SHADOW_KS}", ", ".join(
       str(k) for k in range(1, _SHADOW_LEN + 1))))
def c38_cloud_shadow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C38: geometric cloud-shadow projection — the Fmask/s2cloudless
    shadow-matching step (Zhu & Woodcock 2012): each cloud pixel casts
    a shadow along the anti-solar direction, and clear pixels hit by a
    projection are demoted (they would otherwise contaminate the
    composite as dark false-clear). The reference's masking stops at
    the QA bit for shadow (masking.py); the GEOMETRIC projection —
    what produces that bit upstream — is this operator.

    Determinism: the sun direction is derived from the scene's doy (8
    azimuth sectors mapped to unit offsets), the shadow is cast at
    cell offsets k·(sdy, sdx) for k = 1..{_SHADOW_LEN}, all integer.
    Per (tile, scene): cloud count, shadowed-clear count (the demoted
    pixels), surviving clear count.

    Scale shape: the scatter halo exchange again, with a per-SCENE
    direction instead of a fixed kernel: cloud cells scatter
    ≤{_SHADOW_LEN} projection rows, distinct-collapse on the target
    cell, then one left join back to the scene plane and one
    map-side-combined aggregate. The quadratic cloud×cell space never
    materializes."""
    px = pixel_plane(spark, sf_dir)
    cells = px.select("tile_id", "doy",
                      F.floor(F.col("pixel_id") / _GRID_W).cast("long")
                      .alias("y"),
                      (F.col("pixel_id") % _GRID_W).alias("x"),
                      "quality")
    m = F.col("doy") % 8
    sdy = (F.when(m.isin(0, 1, 2), -1)
           .when(m.isin(4, 5, 6), 1).otherwise(0))
    sdx = (F.when(m.isin(2, 3, 4), 1)
           .when(m.isin(6, 7, 0), -1).otherwise(0))
    clouds = cells.filter(F.col("quality").isin(*_SHADOW_CLOUD))
    ks = F.array(*[F.lit(k) for k in range(1, _SHADOW_LEN + 1)])
    shadow = (clouds
              .select("tile_id", "doy", "y", "x",
                      F.explode(ks).alias("k"), sdy.alias("sdy"),
                      sdx.alias("sdx"))
              .select(F.col("tile_id").alias("t_id"),
                      F.col("doy").alias("s_doy"),
                      (F.col("y") + F.col("k") * F.col("sdy")).alias("sy"),
                      (F.col("x") + F.col("k") * F.col("sdx")).alias("sx"))
              .distinct())
    flagged = (cells.join(
        shadow,
        (F.col("tile_id") == F.col("t_id"))
        & (F.col("doy") == F.col("s_doy"))
        & (F.col("y") == F.col("sy")) & (F.col("x") == F.col("sx")),
        "left")
        .select("tile_id", "doy", "quality",
                F.col("sy").isNotNull().alias("shadowed")))
    clear = F.col("quality").isin(4, 5, 6)
    cloud = F.col("quality").isin(*_SHADOW_CLOUD)
    return (flagged.groupBy("tile_id", F.col("doy").cast("long").alias("doy"))
            .agg(F.sum(F.when(cloud, 1).otherwise(0)).cast("long")
                 .alias("n_cloud"),
                 F.sum(F.when(F.col("shadowed") & clear, 1).otherwise(0))
                 .cast("long").alias("n_shadowed_clear"),
                 F.sum(F.when(clear & ~F.col("shadowed"), 1).otherwise(0))
                 .cast("long").alias("n_clear_kept")))


@register("c39_hillshade", f"""
WITH {{PIXELS}},
{_COMP_SQL},
grads AS (
  SELECT p.tile_id AS tile_id, p.y AS y, p.x AS x,
         count(*) AS n,
         sum((q.x - p.x) * (2 - abs(q.y - p.y)) * q.v) AS gx,
         sum((q.y - p.y) * (2 - abs(q.x - p.x)) * q.v) AS gy
  FROM comp p JOIN comp q
    ON p.tile_id = q.tile_id
   AND q.y BETWEEN p.y - 1 AND p.y + 1
   AND q.x BETWEEN p.x - 1 AND p.x + 1
  GROUP BY p.tile_id, p.y, p.x
)
SELECT tile_id, y * {_GRID_W} + x AS pixel_id,
       CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CAST(8 - gx + gy AS BIGINT) AS shade_num,
       (8 - gx + gy) / sqrt(64 + gx * gx + gy * gy) AS shade
FROM grads WHERE n = 9
""".replace("{PIXELS}", PIXELS_SQL))
def c39_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C39: Lambertian hillshade (the gdaldem-hillshade core) over the
    clear-max composite — the relief-shading layer every EO viewer
    draws under its cubes (the reference leaves it to gdaldem, like
    the rest of the C28+ terrain family; its own pipeline stops at
    the composite the DEM-style products derive from).

    Formula: with Horn gradients p = gx/8, q = gy/8 (C33), surface
    normal N = (-p, -q, 1) and UNNORMALIZED light vector L = (1,-1,1)
    (NW-ish azimuth, ~35° altitude), the Lambertian intensity
    N·L / |N| = (8 - gx + gy) / sqrt(64 + gx² + gy²); the constant
    1/|L| = 1/√3 and the 0–255 display scaling stay presentation-side
    so the cross-engine surface is exact-int64 ``shade_num`` plus ONE
    correctly-rounded IEEE sqrt and ONE division (the same portability
    discipline as C33, which keeps atan out for the same reason).

    Scale shape: identical to C33 — the focal_gradients scatter/
    partial-aggregate halo exchange, then per-row arithmetic; nothing
    new crosses the shuffle."""
    from .operators.focal import focal_gradients
    g = focal_gradients(_comp_cells(spark, sf_dir),
                        height=_GRID_H, width=_GRID_W)
    num = (F.lit(8) - F.col("gx") + F.col("gy"))
    den = F.sqrt(F.lit(64) + F.col("gx") * F.col("gx")
                 + F.col("gy") * F.col("gy"))
    return g.select("tile_id",
                    (F.col("y") * _GRID_W + F.col("x")).alias("pixel_id"),
                    "gx", "gy",
                    num.cast("long").alias("shade_num"),
                    (num / den).alias("shade"))


@register("c40_cloud_distance", f"""
WITH {{PIXELS}},
{_TMODE_SQL},
d AS (
  SELECT p.tile_id AS tile_id, p.y AS y, p.x AS x, p.c AS c,
         min((q.y - p.y) * (q.y - p.y) + (q.x - p.x) * (q.x - p.x)) AS d2
  FROM cells p LEFT JOIN cells q
    ON q.tile_id = p.tile_id AND q.c = 2
   AND q.y BETWEEN p.y - 3 AND p.y + 3
   AND q.x BETWEEN p.x - 3 AND p.x + 3
  GROUP BY p.tile_id, p.y, p.x, p.c
)
SELECT tile_id, y * {_GRID_W} + x AS pixel_id,
       CAST(c AS BIGINT) AS cls,
       CAST(coalesce(d2, 49) AS BIGINT) AS dist2_cloud,
       CAST(coalesce(d2, 49) <= 4 AS BIGINT) AS in_buffer
FROM d
""".replace("{PIXELS}", PIXELS_SQL))
def c40_cloud_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C40: bounded distance-to-cloud transform + cloud buffer — the
    Fmask/s2cloudless cloud-DILATION step (Zhu & Woodcock 2012 §3.2:
    clear pixels within a few cells of cloud are demoted, because
    cloud edges leak radiance). The reference consumes already-dilated
    QA bits (masking.py); this operator is the upstream geometry. Per
    cell of the temporal-mode class plane (C29 semantics: 0 nodata,
    1 clear, 2 not-clear, 3 saturated): squared Euclidean distance to
    the nearest cloud-mode cell within Chebyshev radius 3 (sentinel 49
    when none), and the ``in_buffer`` demotion flag (distance ≤ 2,
    i.e. d² ≤ 4 — the standard 2-pixel buffer).

    Scale shape: only CLOUD cells scatter (49 bounded contribution
    rows each, min-combined map-side), one groupBy on the target cell,
    one LEFT join back onto the plane (operators/focal.py
    min_distance_transform) — never a range join over the grid. The
    oracle is the coordinate-range LEFT self-join formulation over
    the shared _TMODE_SQL plane (one definition for C29 and C40)."""
    cells = _tmode_cells(spark, sf_dir).withColumn("src", F.col("c") == 2)
    from .operators.focal import min_distance_transform
    out = min_distance_transform(cells, radius=3,
                                 height=_GRID_H, width=_GRID_W)
    return out.select("tile_id",
                      (F.col("y") * _GRID_W + F.col("x")).alias("pixel_id"),
                      F.col("c").cast("long").alias("cls"),
                      F.col("dist2").alias("dist2_cloud"),
                      (F.col("dist2") <= 4).cast("long").alias("in_buffer"))


@register("c41_pansharpen", f"""
WITH {{PIXELS}},
{_COMP_SQL},
blocks AS (
  SELECT tile_id, y // 2 AS y2, x // 2 AS x2,
         count(*) AS nb, max(v) AS r, min(v) AS g,
         sum(v) - max(v) - min(v) AS b
  FROM comp GROUP BY tile_id, y // 2, x // 2
)
SELECT c.tile_id AS tile_id, c.y * {_GRID_W} + c.x AS pixel_id,
       CAST(c.v AS BIGINT) AS pan,
       CAST(k.r AS BIGINT) AS ms_r, CAST(k.g AS BIGINT) AS ms_g,
       CAST(k.b AS BIGINT) AS ms_b,
       3 * c.v * k.r * 1e0 / (k.r + k.g + k.b) AS sharp_r,
       3 * c.v * k.g * 1e0 / (k.r + k.g + k.b) AS sharp_g,
       3 * c.v * k.b * 1e0 / (k.r + k.g + k.b) AS sharp_b
FROM comp c JOIN blocks k
  ON k.tile_id = c.tile_id AND k.y2 = c.y // 2 AND k.x2 = c.x // 2
WHERE k.nb = 4 AND k.r + k.g + k.b <> 0
""".replace("{PIXELS}", PIXELS_SQL))
def c41_pansharpen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C41: Brovey-transform pansharpening — the multi-resolution band
    fusion every Sentinel-2/Landsat stack needs (10 m pan-like band ×
    20 m multispectral; the reference's grids carry exactly this 2:1
    resolution split between band groups, but it resamples each band
    independently and never fuses — fusion is the gdal_pansharpen step
    downstream of it). The composite plane plays the high-res band;
    the low-res multispectral triple per 2×2 block is derived
    deterministically from the SAME plane (r = block max, g = block
    min, b = the two middle values' sum), so the oracle re-derives it
    exactly. Brovey: out_i = 3 · pan · ms_i / (r + g + b), the
    intensity-ratio injection. Only COMPLETE 2×2 blocks with a nonzero
    intensity sum are sharpened (partial blocks are the resample-edge
    case C1b already covers).

    Exactness: r/g/b and every numerator are exact int64 (|3·v·r| ≤
    3e8); each output band is ONE IEEE division. Scale shape: the
    block plane is a 4:1 map-side-combinable groupBy whose key
    (tile, y//2, x//2) is a projection of the cell key — the join back
    is co-partitioned, no second Exchange; at 1000 executors this is
    the overview-level join, not a shuffle of the full-res plane."""
    cells = _comp_cells(spark, sf_dir)
    y2 = F.floor(F.col("y") / 2).cast("long")
    x2 = F.floor(F.col("x") / 2).cast("long")
    blocks = (cells
              .groupBy("tile_id", y2.alias("y2"), x2.alias("x2"))
              .agg(F.count(F.lit(1)).alias("nb"),
                   F.max("v").alias("r"), F.min("v").alias("g"),
                   (F.sum("v") - F.max("v") - F.min("v")).alias("b"))
              .filter((F.col("nb") == 4)
                      & (F.col("r") + F.col("g") + F.col("b") != 0))
              .select(F.col("tile_id").alias("k_tid"), "y2", "x2",
                      "r", "g", "b"))
    den = F.col("r") + F.col("g") + F.col("b")
    return (cells.join(blocks, (F.col("tile_id") == F.col("k_tid"))
                       & (y2 == F.col("y2")) & (x2 == F.col("x2")))
            .select("tile_id",
                    (F.col("y") * _GRID_W + F.col("x")).alias("pixel_id"),
                    F.col("v").cast("long").alias("pan"),
                    F.col("r").cast("long").alias("ms_r"),
                    F.col("g").cast("long").alias("ms_g"),
                    F.col("b").cast("long").alias("ms_b"),
                    (F.lit(3) * F.col("v") * F.col("r") * 1e0 / den)
                    .alias("sharp_r"),
                    (F.lit(3) * F.col("v") * F.col("g") * 1e0 / den)
                    .alias("sharp_g"),
                    (F.lit(3) * F.col("v") * F.col("b") * 1e0 / den)
                    .alias("sharp_b")))


@register("c42_bilinear_upsample", f"""
WITH {{PIXELS}},
{_COMP_SQL},
coarse AS (
  SELECT tile_id, y // 2 AS cy, x // 2 AS cx, sum(v) AS cv
  FROM comp GROUP BY tile_id, y // 2, x // 2
  HAVING count(*) = 4
),
offs(o, w) AS (VALUES (-1, 1), (0, 3), (1, 3), (2, 1)),
sc AS (
  SELECT c.tile_id AS tile_id,
         2 * c.cy + oy.o AS y, 2 * c.cx + ox.o AS x,
         oy.w * ox.w AS w, c.cv AS cv
  FROM coarse c CROSS JOIN offs oy CROSS JOIN offs ox
)
SELECT tile_id, y * {_GRID_W} + x AS pixel_id,
       CAST(sum(w * cv) AS BIGINT) AS up_num16,
       sum(w * cv) * 1e0 / 16 AS up_value
FROM sc
WHERE y >= 0 AND y < {_GRID_H} AND x >= 0 AND x < {_GRID_W}
GROUP BY tile_id, y, x
HAVING sum(w) = 16
""".replace("{PIXELS}", PIXELS_SQL))
def c42_bilinear_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C42: bilinear 2× upsampling — the ``gdalwarp -r bilinear``
    resampling mode beside C1b's nearest (the reference resamples
    nearest-only via rasterio, processing.py:303-316; bilinear is the
    smooth alternative its 20 m→10 m Sentinel-2 band harmonization
    would use, and the smooth counterpart of C41's block-replication
    MS injection). The 2×-coarse plane is the complete-2×2-block sum
    (C30/C41's discipline); each fine pixel center sits at coarse
    coordinate (y−0.5)/2, so the two coarse neighbors per axis carry
    exact weights {3/4, 1/4} and the 2-D kernel is {9,3,3,1}/16 —
    carried as ×16 integers, with ONE IEEE division at the end.
    Fine cells without full 4-neighbor support (grid edges, incomplete
    blocks) are not emitted, the same edge rule as C33/gdaldem.

    Scale shape: each coarse cell scatters 16 bounded contribution
    rows (weight × value riding along), one map-side-combined groupBy
    on the fine cell with the HAVING Σw = 16 support filter — the
    focal-family halo exchange run in reverse (coarse→fine), never a
    join of the fine grid against four shifted copies of the coarse
    plane (which would evaluate the coarse subtree four times — the
    q2/q15 double-eval trap)."""
    cells = _comp_cells(spark, sf_dir)
    coarse = (cells.groupBy(
                  "tile_id",
                  F.floor(F.col("y") / 2).cast("long").alias("cy"),
                  F.floor(F.col("x") / 2).cast("long").alias("cx"))
              .agg(F.count(F.lit(1)).alias("nb"), F.sum("v").alias("cv"))
              .filter(F.col("nb") == 4))
    offs = F.array(*[F.struct(F.lit(o).alias("o"), F.lit(w).alias("w"))
                     for o, w in [(-1, 1), (0, 3), (1, 3), (2, 1)]])
    sc = (coarse
          .select("tile_id", "cy", "cx", "cv",
                  F.explode(offs).alias("oy"))
          .select("tile_id", "cy", "cx", "cv", "oy",
                  F.explode(offs).alias("ox"))
          .select("tile_id",
                  (F.lit(2) * F.col("cy") + F.col("oy.o")).alias("y"),
                  (F.lit(2) * F.col("cx") + F.col("ox.o")).alias("x"),
                  (F.col("oy.w") * F.col("ox.w")).alias("w"),
                  "cv")
          .filter((F.col("y") >= 0) & (F.col("y") < _GRID_H)
                  & (F.col("x") >= 0) & (F.col("x") < _GRID_W)))
    return (sc.groupBy("tile_id", "y", "x")
            .agg(F.sum(F.col("w") * F.col("cv")).cast("long")
                 .alias("up_num16"),
                 F.sum("w").alias("wsum"))
            .filter(F.col("wsum") == 16)
            .select("tile_id",
                    (F.col("y") * _GRID_W + F.col("x")).alias("pixel_id"),
                    "up_num16",
                    (F.col("up_num16") * 1e0 / 16).alias("up_value")))


@register("c43_terrain_indexes", f"""
WITH {{PIXELS}},
{_COMP_SQL},
nbr AS (
  SELECT p.tile_id AS tile_id, p.y AS y, p.x AS x,
         count(*) AS n,
         max(CASE WHEN q.y = p.y AND q.x = p.x THEN q.v END) AS vc,
         max(q.v) AS vmax, min(q.v) AS vmin,
         CAST(sum(CASE WHEN q.y <> p.y OR q.x <> p.x THEN q.v END)
              AS BIGINT) AS nbr_sum,
         CAST(sum(CASE WHEN q.y <> p.y OR q.x <> p.x
                       THEN abs(q.v - p.v) END) AS BIGINT) AS tri_num
  FROM comp p JOIN comp q
    ON p.tile_id = q.tile_id
   AND q.y BETWEEN p.y - 1 AND p.y + 1
   AND q.x BETWEEN p.x - 1 AND p.x + 1
  GROUP BY p.tile_id, p.y, p.x
)
SELECT tile_id, y * {_GRID_W} + x AS pixel_id,
       CAST(vmax - vmin AS BIGINT) AS roughness,
       CAST(8 * vc - nbr_sum AS BIGINT) AS tpi_num8,
       (8 * vc - nbr_sum) * 1e0 / 8 AS tpi,
       tri_num, tri_num * 1e0 / 8 AS tri
FROM nbr WHERE n = 9
""".replace("{PIXELS}", PIXELS_SQL))
def c43_terrain_indexes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C43: the remaining three gdaldem terrain modes over the
    clear-max composite — ROUGHNESS (max−min of the 3×3 window, incl.
    the center), TPI (topographic position index, Weiss 2001:
    center − mean of the 8 neighbors — positive on ridges, negative
    in valleys), and TRI (terrain ruggedness index, Riley et al.
    1999 / Wilson et al. 2007: mean |neighbor − center|). With C33
    slope and C39 hillshade this closes the gdaldem family (aspect is
    atan2(gy, gx) over C33's exact gradients, presentation-side like
    every libm call; color-relief is styling).

    Exactness: roughness / tpi_num8 / tri_num are exact int64
    (TPI's mean is cross-multiplied: 8·center − Σnbrs); tpi and tri
    are each ONE IEEE division by the fixed 8. Full-3×3 cells only
    (n = 9), the C33/gdaldem edge rule.

    Scale shape: flow_direction's no-join-back kernel — ONE scatter
    where the center's own (0,0) row rides the same shuffle as its
    neighbors, ONE map-side-combined groupBy with max(CASE center) +
    a ≤9-bounded collect_list, and the |v−vc| fold runs in-array in
    codegen; the oracle is the coordinate-range self-join."""
    from .operators.focal import _scatter
    sc = _scatter(_comp_cells(spark, sf_dir), 1, _GRID_H, _GRID_W, ["v"])
    is_c = (F.col("o_dy") == 0) & (F.col("o_dx") == 0)
    agg = (sc.groupBy("t_id", "ty", "tx")
           .agg(F.count(F.lit(1)).alias("n"),
                F.max(F.when(is_c, F.col("v"))).alias("vc"),
                F.max("v").alias("vmax"), F.min("v").alias("vmin"),
                F.collect_list(F.when(~is_c, F.col("v"))).alias("nbrs"))
           .filter(F.col("n") == 9))
    vc = F.col("vc")
    nbr_sum = F.aggregate("nbrs", F.lit(0).cast("long"),
                          lambda acc, x: acc + x)
    tri_num = F.aggregate("nbrs", F.lit(0).cast("long"),
                          lambda acc, x: acc + F.abs(x - vc))
    return (agg.select(
        F.col("t_id").alias("tile_id"),
        (F.col("ty") * _GRID_W + F.col("tx")).alias("pixel_id"),
        (F.col("vmax") - F.col("vmin")).cast("long").alias("roughness"),
        (F.lit(8) * vc - nbr_sum).cast("long").alias("tpi_num8"),
        ((F.lit(8) * vc - nbr_sum) * 1e0 / 8).alias("tpi"),
        tri_num.alias("tri_num"),
        (tri_num * 1e0 / 8).alias("tri")))


@register("c44_bap_composite", f"""
WITH {{PIXELS}},
cells AS (
  SELECT tile_id, doy, pixel_id // {_GRID_W} AS y, pixel_id % {_GRID_W} AS x,
         quality, value
  FROM pixels
),
clouds AS (
  SELECT tile_id, doy, y, x FROM cells
  WHERE quality IN (2,3,7,8,9,10,11)
),
elig AS (
  SELECT tile_id, doy, y, x, value FROM cells
  WHERE quality IN (4,5,6) AND value <> {BAND_NODATA}
),
d AS (
  SELECT e.tile_id AS tile_id, e.doy AS doy, e.y AS y, e.x AS x,
         e.value AS value,
         coalesce(min((c.y - e.y) * (c.y - e.y)
                      + (c.x - e.x) * (c.x - e.x)), 9) AS d2c
  FROM elig e LEFT JOIN clouds c
    ON c.tile_id = e.tile_id AND c.doy = e.doy
   AND c.y BETWEEN e.y - 2 AND e.y + 2
   AND c.x BETWEEN e.x - 2 AND e.x + 2
  GROUP BY e.tile_id, e.doy, e.y, e.x, e.value
),
pick AS (
  SELECT tile_id, y * {_GRID_W} + x AS pixel_id,
         max(((d2c * 32 + (16 - abs(doy - 8))) * 32 + (16 - doy)) * 65536
             + (value + 10001)) AS pk
  FROM d GROUP BY tile_id, y, x
)
SELECT tile_id, pixel_id,
       CAST(pk % 65536 - 10001 AS BIGINT) AS bap_value,
       CAST(16 - (pk // 65536) % 32 AS BIGINT) AS bap_doy,
       CAST((pk // 65536) // 32 AS BIGINT) AS bap_score
FROM pick
""".replace("{PIXELS}", PIXELS_SQL))
def c44_bap_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C44: Best-Available-Pixel (BAP) scored compositing — Griffiths
    et al. 2013 / White et al. 2014, the scored per-pixel selection
    behind the NRCan/Landsat national composites. Where the
    reference's compositors are rank rules (LCF first-clear, MED
    median, C26 medoid), BAP SCORES every clear observation and picks
    the maximum: score = 32·(squared distance to the nearest
    same-scene cloud cell within radius 2, sentinel 9) + (16 −
    |doy − 8|) — cloud adjacency dominates (cloud-edge radiance leak,
    the C40 geometry applied per scene), target-DOY proximity breaks
    ties, smaller doy then value disambiguate deterministically via
    the packed argmax ((score·32 + (16−doy))·2¹⁶ + value+10001 under
    MAX — one codegen HashAggregate, no window).

    Scale shape: per-SCENE cloud cells scatter 25 bounded contribution
    rows each keyed (tile, doy, y, x) — 16× C40's volume, still
    min-combined map-side — one equi-join back onto the scene plane,
    then the argmax groupBy on (tile, pixel). The distance kernel IS
    operators/focal.min_distance_transform (one definition with C40):
    the per-scene plane rides it with the composite key
    tile·N_DATES + (doy−1) standing in for the tile id. The oracle is
    the per-scene coordinate-range LEFT join + the same packing."""
    from .operators.focal import min_distance_transform
    px = pixel_plane(spark, sf_dir)
    plane = px.select(
        (F.col("tile_id") * N_DATES + F.col("doy") - 1).alias("tile_id"),
        F.col("tile_id").alias("r_tile"), "doy",
        F.floor(F.col("pixel_id") / _GRID_W).cast("long").alias("y"),
        (F.col("pixel_id") % _GRID_W).alias("x"),
        "quality", "value",
        F.col("quality").isin(2, 3, 7, 8, 9, 10, 11).alias("src"))
    d = (min_distance_transform(plane, radius=2, height=_GRID_H,
                                width=_GRID_W, sentinel=9)
         .filter(F.col("quality").isin(4, 5, 6)
                 & (F.col("value") != BAND_NODATA))
         .select(F.col("r_tile").alias("tile_id"), "doy", "y", "x",
                 "value", F.col("dist2").alias("d2c")))
    score = F.col("d2c") * 32 + (F.lit(16) - F.abs(F.col("doy") - 8))
    pk_expr = ((score * 32 + (F.lit(16) - F.col("doy"))) * 65536
               + (F.col("value") + 10001))
    pick = (d.groupBy("tile_id", (F.col("y") * _GRID_W + F.col("x"))
                      .alias("pixel_id"))
            .agg(F.max(pk_expr).alias("pk")))
    pk = F.col("pk")
    return pick.select(
        "tile_id", "pixel_id",
        (pk % 65536 - 10001).cast("long").alias("bap_value"),
        (F.lit(16) - F.expr("(pk div 65536) % 32")).cast("long")
        .alias("bap_doy"),
        F.expr("(pk div 65536) div 32").cast("long").alias("bap_score"))


@register("c45_coregistration", f"""
WITH {{PIXELS}},
val AS (
  SELECT tile_id, doy, pixel_id // {_GRID_W} AS y, pixel_id % {_GRID_W} AS x,
         value AS v
  FROM pixels WHERE value <> {BAND_NODATA}
),
shifts(idx, dy, dx) AS (
  VALUES (0,-1,-1),(1,-1,0),(2,-1,1),(3,0,-1),(4,0,0),
         (5,0,1),(6,1,-1),(7,1,0),(8,1,1)
),
xc AS (
  SELECT a.tile_id AS tile_id, a.doy AS doy, s.idx AS idx,
         sum(a.v * b.v) AS xcorr
  FROM val a
  CROSS JOIN shifts s
  JOIN val b ON b.tile_id = a.tile_id AND b.doy = a.doy + 1
            AND b.y = a.y + s.dy AND b.x = a.x + s.dx
  GROUP BY a.tile_id, a.doy, s.idx
),
pick AS (
  SELECT tile_id, doy,
         max((xcorr + 60000000000) * 16 + (8 - idx)) AS pk
  FROM xc GROUP BY tile_id, doy
)
SELECT tile_id, CAST(doy AS BIGINT) AS doy_a,
       CAST((8 - pk % 16) // 3 - 1 AS BIGINT) AS best_dy,
       CAST((8 - pk % 16) % 3 - 1 AS BIGINT) AS best_dx,
       CAST(pk // 16 - 60000000000 AS BIGINT) AS best_xcorr
FROM pick
""".replace("{PIXELS}", PIXELS_SQL))
def c45_coregistration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C45: scene-to-scene coregistration check — integer
    cross-correlation shift detection between consecutive scenes of a
    tile (the QA step UPSTREAM of everything the reference builds: its
    merge/blend stack assumes inputs are co-registered; AROSICS-class
    tooling detects when they aren't). For each (tile, doy, doy+1)
    scene pair, the shift (dy, dx) ∈ [−1,1]² maximizing the raw
    cross-correlation Σ v_t(y,x)·v_{t+1}(y+dy, x+dx) over the
    overlapping valid cells; a best shift ≠ (0,0) flags
    misregistration. Ties break toward the smaller shift index (row-
    major) via the signed packed argmax (xcorr offset to positive,
    ·16 + (8−idx) under MAX — exact int64 throughout: |Σ v·v| ≤
    512·10⁸ < the 6·10¹⁰ offset).

    Scale shape: the 9-shift expansion is a bounded explode on the
    left scene (map-side), the pairing is ONE equi-join on
    (tile, doy+1, y+dy, x+dx) — never a range join — and both
    aggregates are map-side-combinable (per-(pair, shift) sums, then
    a ≤9-row argmax). At 100× this is the focal halo exchange with a
    time axis."""
    px = pixel_plane(spark, sf_dir)
    val = (px.filter(F.col("value") != BAND_NODATA)
           .select("tile_id", "doy",
                   F.floor(F.col("pixel_id") / _GRID_W).cast("long")
                   .alias("y"),
                   (F.col("pixel_id") % _GRID_W).alias("x"),
                   F.col("value").alias("v")))
    shifts = F.array(*[
        F.struct(F.lit((dy + 1) * 3 + (dx + 1)).alias("idx"),
                 F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)])
    a = (val.select("tile_id", "doy", "y", "x", "v",
                    F.explode(shifts).alias("s"))
         .select("tile_id", "doy", "v", F.col("s.idx").alias("idx"),
                 (F.col("doy") + 1).alias("b_doy_k"),
                 (F.col("y") + F.col("s.dy")).alias("b_y_k"),
                 (F.col("x") + F.col("s.dx")).alias("b_x_k")))
    b = val.select(F.col("tile_id").alias("b_tid"),
                   F.col("doy").alias("b_doy"),
                   F.col("y").alias("b_y"), F.col("x").alias("b_x"),
                   F.col("v").alias("b_v"))
    xc = (a.join(b, (F.col("tile_id") == F.col("b_tid"))
                 & (F.col("b_doy_k") == F.col("b_doy"))
                 & (F.col("b_y_k") == F.col("b_y"))
                 & (F.col("b_x_k") == F.col("b_x")))
          .groupBy("tile_id", "doy", "idx")
          .agg(F.sum(F.col("v") * F.col("b_v")).alias("xcorr")))
    pk_expr = ((F.col("xcorr") + F.lit(60000000000)) * 16
               + (F.lit(8) - F.col("idx")))
    pick = (xc.groupBy("tile_id", "doy")
            .agg(F.max(pk_expr).alias("pk")))
    idx = F.lit(8) - F.col("pk") % 16
    return pick.select(
        "tile_id", F.col("doy").cast("long").alias("doy_a"),
        (F.floor(idx / 3) - 1).cast("long").alias("best_dy"),
        (idx % 3 - 1).cast("long").alias("best_dx"),
        (F.expr("pk div 16") - F.lit(60000000000)).cast("long")
        .alias("best_xcorr"))


@register("c46_break_detection", f"""
WITH {{PIXELS}},
ser AS (
  SELECT tile_id, pixel_id, doy, value AS v,
         row_number() OVER w AS k,
         CAST(sum(value) OVER (PARTITION BY tile_id, pixel_id
                               ORDER BY doy
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS sk,
         count(*) OVER (PARTITION BY tile_id, pixel_id) AS n,
         CAST(sum(value) OVER (PARTITION BY tile_id, pixel_id)
              AS BIGINT) AS stot
  FROM pixels
  WHERE quality IN (4,5,6) AND value <> {BAND_NODATA}
  WINDOW w AS (PARTITION BY tile_id, pixel_id ORDER BY doy)
),
splits AS (
  SELECT tile_id, pixel_id, doy, k, n,
         sk * (n - k) - (stot - sk) * k AS dnum,
         (sk * (n - k) - (stot - sk) * k)
           * (sk * (n - k) - (stot - sk) * k) * 1e0 / (k * (n - k))
           AS metric
  FROM ser WHERE n >= 4 AND k < n
),
best AS (
  SELECT tile_id, pixel_id, doy, k, n, dnum, metric,
         row_number() OVER (PARTITION BY tile_id, pixel_id
                            ORDER BY metric DESC, k) AS rn
  FROM splits
)
SELECT tile_id, pixel_id, CAST(n AS BIGINT) AS n_obs,
       CAST(k AS BIGINT) AS break_k,
       CAST(doy AS BIGINT) AS break_doy,
       CAST(dnum AS BIGINT) AS shift_num, metric
FROM best WHERE rn = 1
""".replace("{PIXELS}", PIXELS_SQL))
def c46_break_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C46: temporal BREAK detection per pixel — the CUSUM/BFAST-lite
    mean-shift change point (Verbesselt et al. 2010's core question:
    WHEN did this pixel's regime change?), completing the time-series
    family beside C21 trend, C23 anomaly and C27 phenology. Over each
    pixel's clear-valid series (ordered by doy), the split k
    maximizing the scaled squared mean shift
    ``(S_k·(n−k) − (S_n−S_k)·k)² / (k·(n−k))`` — algebraically
    k·(n−k)·n²·(mean_left − mean_right)², the two-sample CUSUM
    statistic up to the constant n² — with ties to the EARLIEST k.
    Series shorter than 4 clear obs are not emitted (no meaningful
    split). ``shift_num`` stays exact int64 (|S·n| ≤ 16²·10⁴); the
    metric is the one float (exact-int numerator, one multiply, one
    division — identical shape both engines, and IEEE doubles order
    identically under the rank window).

    Scale shape: cumulative + total sums ride ONE pixel partitioning
    (two frame variants of the same window — no self-join, no
    per-split re-scan: the q2/q15 lesson applied to time series),
    then a second window ranks the ≤15 splits per pixel. At 100 TB
    both windows are pixel-partitioned and spill-safe."""
    px = pixel_plane(spark, sf_dir)
    ser = (px.filter(F.col("quality").isin(4, 5, 6)
                     & (F.col("value") != BAND_NODATA))
           .select("tile_id", "pixel_id", "doy", F.col("value").alias("v")))
    w = Window.partitionBy("tile_id", "pixel_id").orderBy("doy")
    w_all = Window.partitionBy("tile_id", "pixel_id")
    ser = (ser
           .withColumn("k", F.row_number().over(w))
           .withColumn("sk", F.sum("v").over(
               w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
           .withColumn("n", F.count(F.lit(1)).over(w_all))
           .withColumn("stot", F.sum("v").over(w_all).cast("long")))
    dnum = (F.col("sk") * (F.col("n") - F.col("k"))
            - (F.col("stot") - F.col("sk")) * F.col("k"))
    splits = (ser.filter((F.col("n") >= 4) & (F.col("k") < F.col("n")))
              .withColumn("dnum", dnum)
              .withColumn("metric",
                          F.col("dnum") * F.col("dnum") * 1e0
                          / (F.col("k") * (F.col("n") - F.col("k")))))
    w_rank = (Window.partitionBy("tile_id", "pixel_id")
              .orderBy(F.col("metric").desc(), F.col("k")))
    return (splits.withColumn("rn", F.row_number().over(w_rank))
            .filter(F.col("rn") == 1)
            .select("tile_id", "pixel_id",
                    F.col("n").cast("long").alias("n_obs"),
                    F.col("k").cast("long").alias("break_k"),
                    F.col("doy").cast("long").alias("break_doy"),
                    F.col("dnum").cast("long").alias("shift_num"),
                    "metric"))


@register("c47_morans_i", f"""
WITH {{PIXELS}},
{_COMP_SQL},
st AS (
  SELECT tile_id, y, x, v,
         count(*) OVER (PARTITION BY tile_id) AS n,
         sum(v) OVER (PARTITION BY tile_id) AS s
  FROM comp
),
z AS (SELECT tile_id, y, x, n, n * v - s AS zc FROM st),
pairs AS (
  SELECT a.tile_id, a.n AS n, a.zc AS za, b.zc AS zb
  FROM z a JOIN z b ON a.tile_id = b.tile_id
   AND ((a.y = b.y AND abs(a.x - b.x) = 1) OR
        (a.x = b.x AND abs(a.y - b.y) = 1))
),
agg AS (
  SELECT tile_id, CAST(any_value(n) AS BIGINT) AS n_cells,
         CAST(count(*) AS BIGINT) AS w_pairs,
         CAST(sum(za * zb) AS BIGINT) AS cross_zc
  FROM pairs GROUP BY tile_id
),
sq AS (SELECT tile_id, CAST(sum(zc * zc) AS BIGINT) AS ss_zc
       FROM z GROUP BY tile_id)
SELECT a.tile_id, a.n_cells, a.w_pairs, a.cross_zc, q.ss_zc,
       (a.cross_zc * 1e0 / q.ss_zc) * a.n_cells / a.w_pairs AS morans_i
FROM agg a JOIN sq q ON q.tile_id = a.tile_id
WHERE q.ss_zc > 0
""".replace("{PIXELS}", PIXELS_SQL))
def c47_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C47: global Moran's I per tile — THE spatial-autocorrelation
    statistic (Moran 1950; the first question asked of any map:
    "is this pattern clustered, random, or dispersed?") over the
    clear-max composite with rook (4-neighbor) contiguity, nodata
    holes shrinking the adjacency exactly as they shrink c28's
    kernel. I = (n/W) * Σ_adj z_i z_j / Σ z_i² with z centered at the
    tile mean; computed with zc_i = n*v_i - S (the mean cleared of
    fractions — the n² factors cancel in the ratio), so cross_zc,
    ss_zc, n, W are all exact int64 and the ONLY float is the final
    (cross/ss)*n/W, identical op shape in both engines. Tiles with a
    constant composite (ss = 0, I undefined) are excluded.

    Scale shape: the centering stats come from a tile-partitioned
    window (tile-bounded, ≤ 512 cells); adjacency is the c28
    scatter — each cell emits 4 shifted copies and an EQUI-join on
    (tile, y, x) finds the neighbors that exist (no range join, no
    BNLJ; off-grid shifts simply never match); both reductions are
    map-side-combinable groupBys keyed by tile. int64 headroom:
    |zc| ≤ 2nV ≈ 10^7, a pair product ≤ 10^14, ≤ 2·10^3 directed
    pairs per tile → Σ ≤ 2·10^17; the n/W factor stays OUT of the
    integer path (it would push n·Σ past 2^63) and rides the float
    ratio instead."""
    return morans_i_cells(_comp_cells(spark, sf_dir))


def morans_i_cells(cells: DataFrame) -> DataFrame:
    """Moran's I over any (tile_id, y, x, v) cell frame — the kernel
    c47_morans_i wires to the composite plane; tests run it on
    planted checkerboard/gradient patterns whose sign is known."""
    w = Window.partitionBy("tile_id")
    z = (cells.select(
        "tile_id", "y", "x",
        F.count(F.lit(1)).over(w).alias("n"),
        (F.count(F.lit(1)).over(w) * F.col("v")
         - F.sum("v").over(w)).alias("zc")))
    shifted = None
    for dy, dx in ((0, 1), (0, -1), (1, 0), (-1, 0)):
        part = z.select("tile_id", (F.col("y") + dy).alias("y"),
                        (F.col("x") + dx).alias("x"),
                        F.col("zc").alias("z_src"))
        shifted = part if shifted is None else shifted.unionByName(part)
    pairs = shifted.join(
        z.select("tile_id", "y", "x", "n",
                 F.col("zc").alias("z_tgt")),
        ["tile_id", "y", "x"])
    agg = (pairs.groupBy("tile_id")
           .agg(F.max("n").cast("long").alias("n_cells"),
                F.count(F.lit(1)).cast("long").alias("w_pairs"),
                F.sum(F.col("z_src") * F.col("z_tgt")).cast("long")
                .alias("cross_zc")))
    sq = (z.groupBy("tile_id")
          .agg(F.sum(F.col("zc") * F.col("zc")).cast("long")
               .alias("ss_zc")))
    return (agg.join(sq, "tile_id")
            .filter(F.col("ss_zc") > 0)
            .select("tile_id", "n_cells", "w_pairs", "cross_zc",
                    "ss_zc",
                    (F.col("cross_zc") * 1e0 / F.col("ss_zc")
                     * F.col("n_cells") / F.col("w_pairs"))
                    .alias("morans_i")))


@register("c48_hotspots_gi", f"""
WITH {{PIXELS}},
{_COMP_SQL},
st AS (
  SELECT tile_id, y, x, v,
         count(*) OVER (PARTITION BY tile_id) AS n,
         sum(v) OVER (PARTITION BY tile_id) AS s,
         sum(v * v) OVER (PARTITION BY tile_id) AS ssq
  FROM comp
),
nbr AS (
  SELECT a.tile_id, a.y, a.x, a.n, a.s, a.ssq,
         CAST(count(*) AS BIGINT) AS wi,
         CAST(sum(b.v) AS BIGINT) AS sum_nbr
  FROM st a JOIN st b ON a.tile_id = b.tile_id
   AND ((a.y = b.y AND abs(a.x - b.x) <= 1) OR
        (a.x = b.x AND abs(a.y - b.y) = 1))
  GROUP BY a.tile_id, a.y, a.x, a.n, a.s, a.ssq
)
SELECT tile_id, y * {_GRID_W} + x AS pixel_id, wi, sum_nbr,
       CAST(n * sum_nbr - wi * s AS BIGINT) AS gi_num,
       (n * sum_nbr - wi * s) * 1e0
         / sqrt((n * ssq - s * s) * 1e0 * (n * wi - wi * wi) / (n - 1))
         AS gi_z
FROM nbr
WHERE n > 1 AND n * ssq > s * s AND wi < n
""".replace("{PIXELS}", PIXELS_SQL))
def c48_hotspots_gi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C48: Getis-Ord Gi* hotspot scores (Getis & Ord 1992; ArcGIS
    "Hot Spot Analysis") — the LOCAL sibling of c47's global Moran's
    I: per cell, how far the rook-neighborhood-plus-self sum sits
    above or below what the tile mean predicts, in standard
    deviations. Algebra cleared of fractions: with W_i = |N_i ∪ i|,
    Gi* = (n·Σ_nbr − W_i·S) / sqrt((n·ssq − S²)·(n·W_i − W_i²)/(n−1))
    — every inner term an exact int64 (gi_num ships exactly), and the
    float tail (one multiply, one divide-by-(n−1), one sqrt, one
    divide) has identical op shape in both engines. Degenerate cells
    are excluded: constant tiles (n·ssq = S²), single-cell tiles, and
    the W_i = n case where the neighborhood is the whole tile and the
    variance factor collapses to 0.

    Scale shape: identical to c47 — tile-partitioned windows for the
    centering moments (tile-bounded), the 5-copy scatter + equi-join
    for the neighborhood (self + 4 rook shifts; off-grid shifts never
    match), one map-side-combinable groupBy per cell. int64 headroom:
    n·ssq ≤ 2.6e13 and (n·ssq−S²)·(n·W_i−W_i²) ≤ ~7e16 at the 512-
    cell tile — two orders under 2^63; bigger tiles promote the
    variance product to double (same op shape) before multiplying."""
    return getis_ord_cells(_comp_cells(spark, sf_dir))


def getis_ord_cells(cells: DataFrame) -> DataFrame:
    """Gi* over any (tile_id, y, x, v) cell frame — the kernel
    c48_hotspots_gi wires to the composite plane; tests run it on a
    planted hot cluster whose center must score the highest z."""
    w = Window.partitionBy("tile_id")
    st = cells.select(
        "tile_id", "y", "x", "v",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v").over(w).alias("s"),
        F.sum(F.col("v") * F.col("v")).over(w).alias("ssq"))
    shifted = None
    for dy, dx in ((0, 0), (0, 1), (0, -1), (1, 0), (-1, 0)):
        part = st.select("tile_id", (F.col("y") + dy).alias("y"),
                         (F.col("x") + dx).alias("x"),
                         F.col("v").alias("v_src"))
        shifted = part if shifted is None else shifted.unionByName(part)
    nbr = (shifted.join(st.select("tile_id", "y", "x", "n", "s", "ssq"),
                        ["tile_id", "y", "x"])
           .groupBy("tile_id", "y", "x", "n", "s", "ssq")
           .agg(F.count(F.lit(1)).cast("long").alias("wi"),
                F.sum("v_src").cast("long").alias("sum_nbr")))
    n, s, ssq, wi = (F.col(c) for c in ("n", "s", "ssq", "wi"))
    num = n * F.col("sum_nbr") - wi * s
    return (nbr.filter((n > 1) & (n * ssq > s * s) & (wi < n))
            .select("tile_id",
                    (F.col("y") * _GRID_W + F.col("x")).alias("pixel_id"),
                    "wi", "sum_nbr",
                    num.cast("long").alias("gi_num"),
                    (num * 1e0
                     / F.sqrt((n * ssq - s * s) * 1e0
                              * (n * wi - wi * wi) / (n - 1)))
                    .alias("gi_z")))


@register("c49_local_moran", f"""
WITH {{PIXELS}},
{_COMP_SQL},
st AS (
  SELECT tile_id, y, x, v,
         count(*) OVER (PARTITION BY tile_id) AS n,
         sum(v) OVER (PARTITION BY tile_id) AS s
  FROM comp
),
z AS (SELECT tile_id, y, x, n, n * v - s AS zc FROM st),
nbr AS (
  SELECT a.tile_id, a.y, a.x, a.n, a.zc,
         CAST(count(*) AS BIGINT) AS wi,
         CAST(sum(b.zc) AS BIGINT) AS lag_zc
  FROM z a JOIN z b ON a.tile_id = b.tile_id
   AND ((a.y = b.y AND abs(a.x - b.x) = 1) OR
        (a.x = b.x AND abs(a.y - b.y) = 1))
  GROUP BY a.tile_id, a.y, a.x, a.n, a.zc
),
sq AS (SELECT tile_id, CAST(sum(zc * zc) AS BIGINT) AS ss_zc
       FROM z GROUP BY tile_id)
SELECT m.tile_id, m.y * {_GRID_W} + m.x AS pixel_id, m.wi,
       CAST(m.zc AS BIGINT) AS zc, m.lag_zc,
       CAST(m.n * m.zc * m.lag_zc AS BIGINT) AS lisa_num,
       CAST(m.wi * q.ss_zc AS BIGINT) AS lisa_den,
       (m.n * m.zc * m.lag_zc) * 1e0 / (m.wi * q.ss_zc) AS lisa_i,
       CASE WHEN m.zc >= 0 AND m.lag_zc >= 0 THEN 'HH'
            WHEN m.zc < 0 AND m.lag_zc < 0 THEN 'LL'
            WHEN m.zc >= 0 THEN 'HL' ELSE 'LH' END AS quadrant
FROM nbr m JOIN sq q ON q.tile_id = m.tile_id
WHERE q.ss_zc > 0
""".replace("{PIXELS}", PIXELS_SQL))
def c49_local_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C49: local Moran's I (LISA, Anselin 1995) — completes the
    spatial-statistics trio (C47 global I: "is the map clustered?";
    C48 Gi*: "how hot is this cell?"; LISA: "which cells DRIVE the
    clustering, and as what") with the standard HH/LL hotspot vs
    HL/LH outlier quadrant labels from the signs of the centered
    value and its row-standardized spatial lag. With zc = n·v − S,
    I_i = n·zc_i·(Σ_nbr zc / W_i) / Σzc² — the n² factors cancel, and
    the row-standardizing W_i folds into the DENOMINATOR so both
    lisa_num = n·zc·lag (≤ 512·10^7·4·10^7 ≈ 2·10^17) and lisa_den =
    W_i·Σzc² (≤ 2·10^17) are exact int64 — no fractional column
    anywhere (a CAST of a float quotient truncates in Spark but
    rounds in DuckDB); the ONLY float is the final ratio.

    Scale shape: identical to C47/C48 — tile-bounded windows, the
    rook scatter + equi-join, map-side-combinable per-cell groupBy,
    one tile-keyed broadcast-size join for the denominator."""
    return local_moran_cells(_comp_cells(spark, sf_dir))


def local_moran_cells(cells: DataFrame) -> DataFrame:
    """LISA over any (tile_id, y, x, v) cell frame — the kernel
    c49_local_moran wires to the composite plane; tests run it on a
    planted cluster whose HH core / LH fringe / LL far field are
    known."""
    w = Window.partitionBy("tile_id")
    z = (cells.select(
        "tile_id", "y", "x",
        F.count(F.lit(1)).over(w).alias("n"),
        (F.count(F.lit(1)).over(w) * F.col("v")
         - F.sum("v").over(w)).alias("zc")))
    shifted = None
    for dy, dx in ((0, 1), (0, -1), (1, 0), (-1, 0)):
        part = z.select("tile_id", (F.col("y") + dy).alias("y"),
                        (F.col("x") + dx).alias("x"),
                        F.col("zc").alias("z_src"))
        shifted = part if shifted is None else shifted.unionByName(part)
    nbr = (shifted.join(z, ["tile_id", "y", "x"])
           .groupBy("tile_id", "y", "x", "n", "zc")
           .agg(F.count(F.lit(1)).cast("long").alias("wi"),
                F.sum("z_src").cast("long").alias("lag_zc")))
    sq = (z.groupBy("tile_id")
          .agg(F.sum(F.col("zc") * F.col("zc")).cast("long")
               .alias("ss_zc")))
    num = F.col("n") * F.col("zc") * F.col("lag_zc")
    quadrant = (F.when((F.col("zc") >= 0) & (F.col("lag_zc") >= 0), "HH")
                .when((F.col("zc") < 0) & (F.col("lag_zc") < 0), "LL")
                .when(F.col("zc") >= 0, "HL").otherwise("LH"))
    return (nbr.join(sq, "tile_id")
            .filter(F.col("ss_zc") > 0)
            .select("tile_id",
                    (F.col("y") * _GRID_W + F.col("x")).alias("pixel_id"),
                    "wi", F.col("zc").cast("long").alias("zc"),
                    "lag_zc",
                    num.cast("long").alias("lisa_num"),
                    (F.col("wi") * F.col("ss_zc")).cast("long")
                    .alias("lisa_den"),
                    (num * 1e0 / (F.col("wi") * F.col("ss_zc")))
                    .alias("lisa_i"),
                    quadrant.alias("quadrant")))


@register("c50_semivariogram", f"""
WITH {{PIXELS}},
{_COMP_SQL},
lags AS (SELECT unnest([1, 2, 3, 4]) AS h),
pairs AS (
  SELECT a.tile_id, h.lag_h,
         CAST((a.v - b.v) * (a.v - b.v) AS BIGINT) AS sq
  FROM comp a
  CROSS JOIN (SELECT h AS lag_h FROM lags) h
  JOIN comp b ON b.tile_id = a.tile_id
   AND ((b.y = a.y AND b.x = a.x + h.lag_h) OR
        (b.x = a.x AND b.y = a.y + h.lag_h))
)
SELECT tile_id, CAST(lag_h AS BIGINT) AS lag_h,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(sq) AS BIGINT) AS sum_sq,
       sum(sq) * 1e0 / (2 * count(*)) AS gamma
FROM pairs GROUP BY tile_id, lag_h
""".replace("{PIXELS}", PIXELS_SQL))
def c50_semivariogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C50: the EMPIRICAL SEMIVARIOGRAM per tile — γ(h) =
    Σ(v_i − v_j)²/(2·N(h)) over cell pairs at rook-axis lag h ∈ 1..4
    (Matheron 1963; the geostatistics complement to the c47–c49
    autocorrelation trio: Moran asks "is it clustered", the variogram
    asks "over WHAT RANGE does spatial dependence decay" — the input
    to kriging weights and to choosing a sensible focal radius).
    Nodata holes shrink N(h) exactly as they shrink c47's adjacency.
    sum_sq and n_pairs are exact int64 (diff² ≤ 4·10⁸, ≤ 2·512 pairs
    per (tile, lag) → Σ ≤ 4·10¹¹); γ is one identical-shape float
    division over them.

    Scale shape: the c28/c47 scatter generalized to 8 shifts — each
    cell emits one copy per (axis, lag) at its FORWARD-shifted
    coordinate and an EQUI-join on (tile, y, x) finds partners that
    exist (no range join, no BNLJ; each unordered pair lands exactly
    once because only the +h direction is emitted); the reduction is
    a map-side-combinable groupBy on the tile-bounded (tile, lag)
    key. At 100 TB the scatter is 8× the composite plane — linear,
    shuffle keyed identically to every other focal op."""
    return semivariogram_cells(_comp_cells(spark, sf_dir), max_lag=4)


def semivariogram_cells(cells: DataFrame, max_lag: int = 4) -> DataFrame:
    """Empirical rook-axis semivariogram over any (tile_id, y, x, v)
    cell frame — c50's kernel; tests run it on planted constant /
    gradient / checkerboard patterns with closed-form γ(h)."""
    shifted = None
    for h in range(1, max_lag + 1):
        for dy, dx in ((0, h), (h, 0)):
            part = cells.select(
                "tile_id", (F.col("y") + dy).alias("y"),
                (F.col("x") + dx).alias("x"),
                F.col("v").alias("v_src"), F.lit(h).alias("lag_h"))
            shifted = part if shifted is None else shifted.unionByName(part)
    pairs = (shifted.join(
        cells.select("tile_id", "y", "x", F.col("v").alias("v_tgt")),
        ["tile_id", "y", "x"])
        .select("tile_id", "lag_h",
                ((F.col("v_src") - F.col("v_tgt"))
                 * (F.col("v_src") - F.col("v_tgt"))).alias("sq")))
    return (pairs.groupBy("tile_id", F.col("lag_h").cast("long").alias("lag_h"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.sum("sq").cast("long").alias("sum_sq"))
            .select("tile_id", "lag_h", "n_pairs", "sum_sq",
                    (F.col("sum_sq") * F.lit(1.0) / (2 * F.col("n_pairs")))
                    .alias("gamma")))
