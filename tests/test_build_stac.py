"""STAC-sourced build CLI (reference cli.py:81-144 ``build``): one
synthetic STAC search → remote asset fetch over HTTP → the §3.1 cube
job — and the result equals the cube built from the same observations
delivered directly."""

from __future__ import annotations

import http.server
import threading
from datetime import date

import numpy as np
import pytest
from pyspark.sql import functions as F

from cube_builder_spark.plans.build_cube import CubeJobConfig, build_cube
from cube_builder_spark.sinks.cog import write_geotiff_band

ROWS, COLS = 4, 6
NPX = ROWS * COLS
TILES = (0, 1)
DATES = (date(2020, 1, 2), date(2020, 1, 10))


def _b04(tile, d):
    rng = np.random.default_rng(tile * 100 + d.day)
    return rng.integers(0, 5000, NPX, dtype=np.int64)


def _scl(tile, d):
    # a few cloudy pixels (SCL 9), rest clear vegetation (4)
    arr = np.full(NPX, 4, np.int64)
    arr[(tile + d.day) % NPX] = 9
    return arr


@pytest.fixture(scope="module")
def stac_env(tmp_path_factory):
    """HTTP-served band files + a fake STAC transport yielding one
    feature per (tile, date) whose assets point at those URLs."""
    d = tmp_path_factory.mktemp("stac_assets")
    for t in TILES:
        for dt in DATES:
            stamp = dt.strftime("%Y%m%d")
            for band, arr in (("B04", _b04(t, dt)), ("SCL", _scl(t, dt))):
                buf = write_geotiff_band(
                    arr.astype(np.int16).reshape(ROWS, COLS))
                (d / f"S2A_t{t}_{stamp}_{band}.tif").write_bytes(buf)

    fetched = []

    class _Quiet(http.server.SimpleHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def send_head(self):
            fetched.append(self.path)
            return super().send_head()

    handler = lambda *a, **kw: _Quiet(*a, directory=str(d), **kw)
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    calls = []

    def transport(url, params=None, payload=None):
        calls.append({"url": url, "params": params, "payload": payload})
        # bbox-scoped like a real STAC: tile t's scenes live in
        # x ∈ [t, t+1)
        want = (payload or {}).get("bbox") or [0, 0, 99, 99]
        feats = []
        for t in TILES:
            if not (want[0] <= t < want[2]):
                continue
            for dt in DATES:
                stamp = dt.strftime("%Y%m%d")
                feats.append({
                    "id": f"S2A_t{t}_{stamp}",
                    "properties": {"datetime": f"{dt.isoformat()}T10:00:00Z",
                                   "platform": "sentinel-2a"},
                    "assets": {
                        band: {"href":
                               f"{base}/S2A_t{t}_{stamp}_{band}.tif"}
                        for band in ("B04", "SCL")}})
        return {"features": feats}

    yield transport, calls, fetched
    srv.shutdown()


def test_stac_build_equals_direct(spark, tmp_path, stac_env):
    transport, calls, _ = stac_env
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "tools"))
    from build_stac import build_from_stac

    cfg = CubeJobConfig(cube="STAC-CUBE", composite="LCF",
                        start=date(2020, 1, 1), end=date(2020, 1, 16),
                        step=8, index_bands={})
    res = build_from_stac(
        spark, str(tmp_path / "stac_out"), cfg,
        "http://stac.invalid", "S2_L2A", ["B04", "SCL"],
        [0, 0, 1, 1], "2020-01-01", "2020-01-16",
        tiles=["0"], transport=transport,
        tile_bboxes={"0": [0, 0, 1, 1]})
    assert res["new_items"] > 0
    assert calls and calls[0]["payload"]["collections"] == ["S2_L2A"]
    # the searches are EAGER driver-side calls: exactly one transport
    # round per requested tile, regardless of how many Spark actions
    # (the fail-fast take(1), the fetch, the build) read the assets
    # frame afterwards — the round-7 advisor worried the probe doubled
    # the STAC API traffic; this pins that it does not
    assert len(calls) == 1
    cube = spark.read.parquet(res["cube_path"])

    # direct build from the same arrays (tile_id comes from the STAC
    # search's tile argument — one search per tile; here tile "0")
    rows = []
    for dt in DATES:
        b04, scl = _b04(0, dt), _scl(0, dt)
        for p in range(NPX):
            rows.append((0, p, "B04", dt, dt.timetuple().tm_yday,
                         int(b04[p]), 0, 0))
            rows.append((0, p, "SCL", dt, dt.timetuple().tm_yday,
                         int(scl[p]), 0, 0))
    obs = spark.createDataFrame(
        rows, "tile_id long, pixel_id long, band string, date date, "
              "doy long, value long, source_idx int, scene_order int")
    res2 = build_cube(spark, obs, str(tmp_path / "direct_out"), cfg)
    direct = spark.read.parquet(res2["cube_path"])

    key = ["tile_id", "period", "band", "pixel_id"]
    joined = (cube.select(*key, "value").alias("f")
              .join(direct.select(*key, "value").alias("d"), key, "full"))
    bad = joined.filter(F.col("f.value").isNull()
                        | F.col("d.value").isNull()
                        | (F.col("f.value") != F.col("d.value")))
    assert bad.count() == 0
    assert cube.count() == direct.count() > 0


def test_cli_main_parses_and_runs(spark, tmp_path, stac_env, monkeypatch):
    """The argparse surface mirrors the reference's build command; a
    fake transport keeps it network-free."""
    transport, _, _ = stac_env
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "tools"))
    import build_stac as mod

    monkeypatch.setattr(
        "cube_builder_spark.sources.stac.http_transport", transport)
    monkeypatch.setattr("cube_builder_spark.session.get_spark",
                        lambda *a, **kw: spark)
    out = str(tmp_path / "cli_out")
    mod.main(["CLI-CUBE", out, "--stac-url", "http://stac.invalid",
              "--collections", "S2_L2A", "--tiles", "0",
              "--bbox", "0,0,1,1",
              "--start", "2020-01-01", "--end", "2020-01-16",
              "--bands", "B04,SCL", "--composite", "MED"])
    import os.path
    assert os.path.isdir(os.path.join(out, "cube"))


def test_stac_build_with_grid_warps_scenes(spark, tmp_path):
    """STAC assets carrying UTM georef warp onto a grid tile during
    the build (the reference's warp-merge flow) — same-CRS translation
    case checked exactly against the source array."""
    import http.server
    import threading

    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "tools"))
    from build_stac import build_from_stac

    d = tmp_path / "grid_assets"
    d.mkdir()
    arr_b04 = np.arange(256, dtype=np.int16).reshape(16, 16)
    arr_scl = np.full((16, 16), 4, np.int16)
    for band, arr in (("B04", arr_b04), ("SCL", arr_scl)):
        buf = write_geotiff_band(arr, pixel_size=(30.0, 30.0),
                                 origin=(600000.0, 8000480.0),
                                 nodata=-9999)
        (d / f"S2A_g_{band}.tif").write_bytes(buf)

    class _Quiet(http.server.SimpleHTTPRequestHandler):
        def log_message(self, *a):
            pass

    handler = lambda *a, **kw: _Quiet(*a, directory=str(d), **kw)
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"

    def transport(url, params=None, payload=None):
        return {"features": [{
            "id": "S2A_g",
            "properties": {"datetime": "2020-01-02T10:00:00Z"},
            "assets": {b: {"href": f"{base}/S2A_g_{b}.tif"}
                       for b in ("B04", "SCL")}}]}

    tiles = [{"tile_id": 7, "west": 600000.0, "north": 8000480.0,
              "width": 16, "height": 16, "res": 30.0}]
    cfg = CubeJobConfig(cube="STAC-GRID", composite="LCF",
                        start=date(2020, 1, 1), end=date(2020, 1, 16),
                        step=8, index_bands={})
    try:
        res = build_from_stac(
            spark, str(tmp_path / "out"), cfg, "http://stac.invalid",
            "S2_L2A", ["B04", "SCL"], [0, 0, 1, 1],
            "2020-01-01", "2020-01-16", tiles=["7"],
            transport=transport, grid=tiles,
            src_crs="EPSG:32722", dst_crs="EPSG:32722")
    finally:
        srv.shutdown()
    assert res["new_items"] > 0
    cube = spark.read.parquet(res["cube_path"])
    got = {r.pixel_id: r.value
           for r in cube.filter((F.col("band") == "B04")
                                & (F.col("tile_id") == 7)).collect()}
    assert len(got) == 256
    assert all(got[i] == i for i in range(256))


def test_empty_search_fails_fast(spark, tmp_path, stac_env):
    """Round-6 advisor fix: a zero-feature STAC search must fail with
    a clear message, not an opaque build_cube error downstream. The
    fail-fast ``take(1)`` probe must not re-run the (eager,
    driver-side) searches: exactly one transport round per tile even
    on the failure path."""
    transport, calls, _ = stac_env
    n_before = len(calls)
    import os
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "tools"))
    from build_stac import build_from_stac

    cfg = CubeJobConfig(cube="EMPTY", composite="LCF",
                        start=date(2020, 1, 1), end=date(2020, 1, 16),
                        step=8, index_bands={})
    with pytest.raises(SystemExit, match="no items"):
        build_from_stac(
            spark, str(tmp_path / "out"), cfg,
            "http://stac.invalid", "S2_L2A", ["B04", "SCL"],
            # bbox far from every synthetic tile -> empty search
            [500, 500, 501, 501], "2020-01-01", "2020-01-16",
            tiles=["0"], transport=transport,
            tile_bboxes={"0": [500, 500, 501, 501]})
    assert len(calls) - n_before == 1     # one search, probe added none


def test_auto_shuffle_partitions_conf():
    """Round-6 advisor fix: sessions built with
    shuffle.partitions='auto' (AQE auto-coalescing platforms) must not
    crash the fetch fan-out width computation — it falls back to the
    cluster's default parallelism. (Stock Spark rejects setting 'auto'
    at runtime, so the helper is exercised with a stub session.)"""
    import os
    import sys
    from types import SimpleNamespace
    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "tools"))
    from build_stac import _shuffle_width

    def fake(conf_value, parallelism=24):
        return SimpleNamespace(
            conf=SimpleNamespace(get=lambda k: conf_value),
            sparkContext=SimpleNamespace(defaultParallelism=parallelism))

    assert _shuffle_width(fake("32")) == 32
    assert _shuffle_width(fake("auto")) == 24


def test_noop_stac_rebuild_fetches_no_asset(spark, tmp_path, stac_env):
    """A re-run whose units are all published prunes the searched
    assets before the fetch: it searches again but requests no band file."""
    transport, _, fetched = stac_env
    import os
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "tools"))
    from build_stac import build_from_stac

    cfg = CubeJobConfig(cube="STAC-NOOP", composite="LCF",
                        start=date(2020, 1, 1), end=date(2020, 1, 16),
                        step=8, index_bands={})

    def build():
        return build_from_stac(
            spark, str(tmp_path / "noop_out"), cfg,
            "http://stac.invalid", "S2_L2A", ["B04", "SCL"],
            [0, 0, 2, 1], "2020-01-01", "2020-01-16",
            tiles=["0", "1"], transport=transport,
            tile_bboxes={"0": [0, 0, 1, 1], "1": [1, 0, 2, 1]})

    first = build()
    assert first["new_items"] == 4 and fetched
    n_fetched = len(fetched)
    again = build()
    assert (again["new_items"], again["reused_items"]) == (0, 4)
    assert len(fetched) == n_fetched
