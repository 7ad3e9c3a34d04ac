"""K1 GeoTIFF sink: stdlib encoder roundtrip + Spark export fan-out."""

from __future__ import annotations

import hashlib

import numpy as np

from cube_builder_spark.sinks.cog import (export_band_tiffs, write_cog_band,
                                          write_geotiff_band)
from cube_builder_spark.sources.cog_reader import (BytesFetcher, CogReader,
                                                   read_tiff_band)


def _open(buf: bytes) -> CogReader:
    return CogReader("<bytes>", fetcher=BytesFetcher(buf))


def test_geotiff_roundtrip():
    arr = (np.arange(16 * 32, dtype=np.int32) % 20001 - 10000).astype(np.int16)
    arr = arr.reshape(16, 32)
    buf = write_geotiff_band(arr, pixel_size=(10.0, 10.0),
                             origin=(500000.0, 8000000.0), nodata=-9999)
    got = read_tiff_band(buf)
    assert np.array_equal(got["array"], arr)
    assert got["pixel_size"] == (10.0, 10.0)
    assert got["origin"] == (500000.0, 8000000.0)
    assert got["nodata"] == -9999


def test_geotiff_uncompressed_roundtrip():
    arr = np.full((4, 8), 7, np.int16)
    got = read_tiff_band(write_geotiff_band(arr, compress=False))
    assert np.array_equal(got["array"], arr)


def test_cog_roundtrip_and_pyramid():
    rng = np.random.default_rng(7)
    arr = rng.integers(-10000, 10000, size=(300, 520), dtype=np.int16)
    buf = write_cog_band(arr, tile=64, pixel_size=(10.0, 10.0),
                         origin=(500000.0, 8000000.0), nodata=-9999)
    r = _open(buf)
    assert np.array_equal(r.read_level(0), arr)
    assert r.levels[0]["block"] == (64, 64)
    assert r.geo["pixel_size"] == (10.0, 10.0)
    assert r.geo["origin"] == (500000.0, 8000000.0)
    assert r.geo["nodata"] == -9999
    # pyramid: nearest 2x decimation until a level fits one tile
    want_levels = []
    lv = arr
    while min(lv.shape) > 64:
        lv = lv[::2, ::2]
        want_levels.append(lv)
    overviews = [r.read_level(i) for i in range(1, len(r.levels))]
    assert len(overviews) == len(want_levels) == 3
    for got_lv, want_lv in zip(overviews, want_levels):
        assert np.array_equal(got_lv, want_lv)
    assert [lv["subfile_type"] for lv in r.levels[1:]] == [1, 1, 1]


def test_cog_layout_is_cloud_optimized():
    """IFDs lead the file; tile data runs smallest-overview -> full
    res, so header + overviews are one small range request."""
    arr = np.arange(256 * 256, dtype=np.int32).astype(np.int16).reshape(256, 256)
    r = _open(write_cog_band(arr, tile=64))
    assert r.ifds_lead_data
    assert r.overview_data_first
    assert len(r.levels) - 1 == 2


def test_cog_single_tile_image():
    arr = np.full((40, 52), -3, np.int16)
    r = _open(write_cog_band(arr, tile=64))
    assert np.array_equal(r.read_level(0), arr)
    assert r.levels[1:] == []


def test_export_band_cogs(spark, tmp_path):
    rows = [(t, "2020-01-01_2020-01-08", "B04", p, (t * 100 + p) % 3000)
            for t in (0, 1) for p in range(64)]
    cube = spark.createDataFrame(
        rows, "tile_id long, period string, band string, pixel_id long, value long")
    out = str(tmp_path / "cogs")
    manifest = export_band_tiffs(cube, out, ncols=32, cog=True,
                                 cog_tile=16).collect()
    assert len(manifest) == 2
    m = {r.tile_id: r for r in manifest}
    got = read_tiff_band(open(m[1].path, "rb").read())
    assert got["array"].shape == (2, 32)
    assert got["array"][0, 0] == 100
    assert got["origin"][0] == 1 * 32 * 30.0


def test_export_band_tiffs(spark, tmp_path):
    rows = [(t, "2020-01-01_2020-01-08", b, p, (t * 100 + p) % 3000)
            for t in (0, 1) for b in ("B04", "NDVI") for p in range(64)]
    cube = spark.createDataFrame(
        rows, "tile_id long, period string, band string, pixel_id long, value long")
    out = str(tmp_path / "tiffs")
    manifest = export_band_tiffs(cube, out, ncols=32).collect()
    assert len(manifest) == 4
    m = {(r.tile_id, r.band): r for r in manifest}
    buf = open(m[(1, "B04")].path, "rb").read()
    got = read_tiff_band(buf)
    assert got["array"].shape == (2, 32)
    assert got["array"][0, 0] == 100          # pixel 0 of tile 1
    assert got["origin"][0] == 1 * 32 * 30.0  # tile offset georeferencing


# Writer bytes, pinned: perfbench's scene inputs and every stored file
# depend on the exact encoding, so a layout refactor must not move them.
# The deflated payloads assume a stock zlib (level 6 output differs
# across zlib forks such as zlib-ng).
_PINNED_SHA256 = {
    "geotiff_deflate":
        "89f255187030b05e8eee1d4a6f329ea1e4abdf554b746ead04ac5e241ff06e1e",
    "geotiff_raw":
        "26201026f0739e2b6325e6e5d714418b269c8d8f6e1922397e7b6607251637bd",
    "cog_classic":
        "6927af1b1085dc83a45d4cfb4b01577908881047b652ab7ac87030a141dd71a6",
    "cog_bigtiff":
        "a7f32115a46d48bd5c2d8693986aa7bedd8aee351f595be27ff17cb7362f275f",
    "scene_48":
        "4337d947b831566cd22c1cd709713f3a0f5e36150ad8996524a4de6b714fe79d",
}


def _pinned_outputs() -> dict:
    arr = (np.arange(96 * 160, dtype=np.int64) * 37 % 20001
           - 10000).astype(np.int16).reshape(96, 160)
    rng = np.random.default_rng(0)
    scene = np.where(rng.random((48, 48)) < 0.1, -9999,
                     rng.integers(100, 4000, (48, 48))).astype(np.int16)
    return {
        "geotiff_deflate": write_geotiff_band(
            arr, pixel_size=(10.0, 10.0), origin=(500000.0, 8000000.0)),
        "geotiff_raw": write_geotiff_band(arr, compress=False, nodata=None),
        "cog_classic": write_cog_band(arr, tile=32, origin=(1.0, 2.0)),
        "cog_bigtiff": write_cog_band(arr, tile=32, bigtiff=True),
        "scene_48": write_geotiff_band(scene, pixel_size=(20.0, 20.0),
                                       origin=(300000.0, 8500000.0)),
    }


def test_writer_bytes_pinned():
    got = {k: hashlib.sha256(v).hexdigest()
           for k, v in _pinned_outputs().items()}
    assert got == _PINNED_SHA256
