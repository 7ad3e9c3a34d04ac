"""Operator unit tests with the reference's golden values
(tests/test_image.py of the reference) plus grid/catalog checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from cube_builder_spark.grids import create_tiles, tile_intersects, tiles_df
from cube_builder_spark.operators.masking import extract_bits, qa_bit
from cube_builder_spark.operators.rescale import linear_scale, rescale


def test_rescale_landsat_c2_golden(spark):
    """Golden matrix from reference test_rescale_raster: uint16 Landsat
    C2 values, 0.0000275/-0.2, new scale 1e-4, uint16 dtype clamp."""
    values = [17834, 16269, 8275, 27369, 15755, 19081, 21684, 20865,
              24655, 21416, 8932, 32578, 27168, 21827, 11382, 37001]
    expected = [2904, 2473, 275, 5526, 2332, 3247, 3963, 3737,
                4780, 3889, 456, 6958, 5471, 4002, 1130, 8175]
    df = spark.createDataFrame([(v,) for v in values], "v long")
    out = df.select(rescale(F.col("v"), 0.0000275, new_scale=0.0001,
                            origin_additive=-0.2, dtype="uint16").alias("r"))
    assert [r.r for r in out.collect()] == expected


def test_bit_extraction(spark):
    """Reference test_bit_extraction: 43 = 0b00101011."""
    df = spark.createDataFrame([(43,)], "v long")
    for position in [0, 1, 3, 5]:
        out = df.select(qa_bit(F.col("v"), position).alias("b")).first()
        assert out.b is True
    for position in [2, 4, 6]:
        out = df.select(qa_bit(F.col("v"), position).alias("b")).first()
        assert out.b is False


def test_radsat_bits(spark):
    """Reference test_radsat_bit: [1026, 1037] -> bits 1-7 -> [1, 6]."""
    df = spark.createDataFrame([(1026,), (1037,)], "v long")
    out = df.select(extract_bits(F.col("v"), 1, 7).alias("s")).collect()
    assert [r.s for r in out] == [1, 6]


def test_radsat_doctest_value(spark):
    """radsat_extract_bits(1026, 1, 7) == 1 (image.py doctest)."""
    df = spark.createDataFrame([(1026,)], "v long")
    assert df.select(extract_bits(F.col("v"), 1, 7).alias("s")).first().s == 1


def test_linear_scale_bounds(spark):
    df = spark.createDataFrame([(0,), (5000,), (10000,), (20000,), (-5,)], "v long")
    out = df.select(linear_scale(F.col("v"), (0, 10000), (0, 255)).alias("s")).collect()
    vals = [r.s for r in out]
    assert vals[0] == 0.0
    assert vals[1] == 127.5
    assert vals[2] == 255.0
    assert vals[3] == 255.0  # clipped high
    assert vals[4] == 0.0    # clipped low


def test_grid_naming_and_intersect(spark):
    tiles = create_tiles((0.0, 0.0, 4 * 105600.0, 3 * 105600.0), 105600.0, "G")
    assert len(tiles) == 12
    ids = {t["tile_id"] for t in tiles}
    assert "000000" in ids and "003002" in ids
    df = tiles_df(spark, tiles)
    hit = tile_intersects(df, 1.0, 1.0, 2.0, 2.0).collect()
    assert len(hit) == 1 and hit[0].tile_id == "000002"


def test_band_expression_rejects_injection():
    import pytest

    from cube_builder_spark.operators.indexes import (BandExpressionError,
                                                      compile_band_expression)
    with pytest.raises(BandExpressionError):
        compile_band_expression("select_something('x')", ["B04"])
    with pytest.raises(BandExpressionError):
        compile_band_expression("B04; drop table x", ["B04"])


def test_expression_bands_shares_the_parser():
    """The band names come from the same parse that compiles the
    formula, so it rejects the same inputs."""
    import pytest

    from cube_builder_spark.operators.indexes import (BandExpressionError,
                                                      expression_bands)
    assert expression_bands("10000.*(B8A-B04)/(B8A+B04)") == ["B04", "B8A"]
    assert expression_bands("2.5 * (B08 - B04) / (B08 + 6 * B04 - 7.5 * B02 + 1)") \
        == ["B02", "B04", "B08"]
    for bad in ("abs(B04)", "B04; drop table x", "B04 ** 2", "(B04"):
        with pytest.raises(BandExpressionError):
            expression_bands(bad)


def test_mosaic_packed_matches_struct_path(spark):
    """The packed-argmax fast path (HashAggregate) must select exactly
    the pixels the general struct path (SortAggregate) selects —
    including priority ties broken by highest value."""
    import random

    from pyspark.sql import functions as F

    from cube_builder_spark.operators import mosaic

    rng = random.Random(7)
    rows = []
    for i in range(4000):
        rows.append((i % 7, i % 53, "2020-01-0%d" % (1 + i % 3),
                     -9999 if rng.random() < 0.3
                     else rng.randint(-20000, 20000),
                     rng.randint(0, 4), rng.randint(0, 9)))
    scenes = spark.createDataFrame(
        rows, "tile_id long, pixel_id long, date string, value long, "
              "source_idx long, scene_order long")
    packed = mosaic.mosaic_first_valid(scenes)
    general = mosaic.mosaic_first_valid(
        scenes,
        order_key=F.struct((-F.col("scene_order")).alias("k1"),
                           F.col("value").alias("k2"),
                           F.col("source_idx").alias("k3")))
    key = lambda r: (r.tile_id, r.pixel_id, r.date)
    a = {key(r): (r.merge_value, r.datasource, r.n_scenes)
         for r in packed.collect()}
    b = {key(r): (r.merge_value, r.datasource, r.n_scenes)
         for r in general.collect()}
    assert a == b and len(a) > 1000


def test_mosaic_packed_domain_violation_raises(spark):
    """An out-of-contract observation (|value| >= 2^31) must fail the
    job loudly, never silently corrupt the packed comparison."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from cube_builder_spark.operators import mosaic

    scenes = spark.createDataFrame(
        [(0, 0, "2020-01-01", 1 << 40, 0, 0)],
        "tile_id long, pixel_id long, date string, value long, "
        "source_idx long, scene_order long")
    with pytest.raises(SparkRuntimeException, match="domain violated"):
        mosaic.mosaic_first_valid(scenes).collect()
