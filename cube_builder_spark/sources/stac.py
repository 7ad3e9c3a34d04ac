"""S1–S3 — STAC ingestion: search → assets DataFrame.

Reference: ``maestro.py:630-753`` (search_images: per collection ×
tile-geometry × datetime; band aliasing incl. ``sr_`` prefixes and
common-name maps), ``_adapter.py:76-201`` (v1 pystac-client vs legacy
0.8/0.9 request adapters behind one interface), ``_adapter.py:204-218``
(Sentinel-SAFE FeatureCollection rewrite: every spectral band points at
the one zip asset).

Spark-native: STAC is driver-side ingestion — the client walks pages
and the feature→asset explosion lands in ``tables.local_df``;
everything after that is DataFrame land. The HTTP transport is
injectable so tests (and offline runs) use canned FeatureCollections;
a requests-based transport drops in unchanged in production.
"""

from __future__ import annotations

import json
import urllib.request
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from ..tables import local_df

# band aliasing (maestro.py:216-220, 700-733): per-dataset rename map
# plus the 'sr_' prefix family used by Landsat surface reflectance
DEFAULT_BAND_ALIASES = {
    "sr_band1": "B01", "sr_band2": "B02", "sr_band3": "B03",
    "sr_band4": "B04", "sr_band5": "B05", "sr_band6": "B06",
    "sr_band7": "B07", "pixel_qa": "SCL", "quality": "SCL",
}


def http_transport(url: str, params: dict | None = None, payload: dict | None = None) -> dict:
    """Default transport: GET/POST JSON (stdlib; swap for requests)."""
    if payload is not None:
        req = urllib.request.Request(
            url, data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"})
    else:
        qs = "&".join(f"{k}={v}" for k, v in (params or {}).items())
        req = urllib.request.Request(url + ("?" + qs if qs else ""))
    with urllib.request.urlopen(req) as resp:          # pragma: no cover
        return json.load(resp)


@dataclass
class StacClient:
    """Version-dispatching STAC client (S2, _adapter.py:76-201): the
    v1 path POSTs /search with a bbox+datetime payload; the legacy
    0.8/0.9 path GETs /stac/search with query params. One ``search``
    surface either way."""
    url: str
    version: str = "1.0.0"
    transport: Callable[..., dict] = field(default=http_transport)

    def search(self, collection: str, bbox: list[float], start: str,
               end: str, limit: int = 1000) -> list[dict]:
        features: list[dict] = []
        page = 1
        while True:
            if self.version.startswith("1"):
                body = self.transport(
                    f"{self.url}/search", payload={
                        "collections": [collection], "bbox": bbox,
                        "datetime": f"{start}T00:00:00Z/{end}T23:59:59Z",
                        "limit": limit, "page": page})
            else:   # legacy 0.8/0.9
                body = self.transport(
                    f"{self.url}/stac/search", params={
                        "collections": collection,
                        "bbox": ",".join(str(b) for b in bbox),
                        "time": f"{start}/{end}", "limit": limit, "page": page})
            feats = body.get("features", [])
            features.extend(feats)
            if len(feats) < limit:
                return features
            page += 1


def adapt_safe_items(fc_features: list[dict], bands: list[str],
                     zip_asset_key: str = "asset",
                     band_aliases: dict[str, str] | None = None) -> list[dict]:
    """S3 (_adapter.py:204-218): Sentinel-SAFE collections expose ONE
    zip asset; rewrite each feature so every requested band points at
    that zip (the reader later opens the right subdataset). A band
    already served by an existing asset — directly or through an
    alias — keeps its own asset."""
    aliases = {**DEFAULT_BAND_ALIASES, **(band_aliases or {})}
    out = []
    for feat in fc_features:
        assets = feat.get("assets", {})
        zip_asset = assets.get(zip_asset_key)
        if zip_asset is None:
            out.append(feat)
            continue
        served = {aliases.get(name, name) for name in assets}
        new_assets = dict(assets)
        for band in bands:
            if band not in served:
                new_assets.setdefault(band, dict(zip_asset))
        out.append({**feat, "assets": new_assets})
    return out


def features_to_asset_rows(features: list[dict], bands: list[str],
                           dataset: str, tile_id: int | str,
                           band_aliases: dict[str, str] | None = None,
                           nodata: float = -9999.0) -> list[dict]:
    """S1 core (maestro.py:700-753): one row per (feature, band asset),
    with band aliasing applied. Pure driver-side Python — the output
    feeds ``tables.local_df``."""
    aliases = {**DEFAULT_BAND_ALIASES, **(band_aliases or {})}
    wanted = set(bands)
    rows = []
    for feat in features:
        sceneid = feat.get("id", "")
        dt = (feat.get("properties", {}).get("datetime", ""))[:10]
        platform = feat.get("properties", {}).get("platform", "")
        for asset_name, asset in feat.get("assets", {}).items():
            band = aliases.get(asset_name, asset_name)
            if band not in wanted:
                continue
            rows.append({
                "link": asset.get("href", ""), "dataset": dataset,
                "platform": platform, "band": band, "date": dt,
                "sceneid": sceneid, "tile_id": str(tile_id),
                "nodata": float(asset.get("nodata", nodata))})
    return rows


ASSET_SCHEMA = ("link string, dataset string, platform string, band string, "
                "date string, sceneid string, tile_id string, nodata double")


def assets_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Asset rows → the assets DataFrame every downstream stage reads."""
    return local_df(spark, rows, ASSET_SCHEMA)


def search_images(spark: SparkSession, client: StacClient, collection: str,
                  bands: list[str], bbox: list[float], start: str, end: str,
                  tile_id: int | str, dataset: str | None = None,
                  safe_zip: bool = False) -> DataFrame:
    """S1 (Maestro.search_images, maestro.py:630-753): one STAC search
    → assets DataFrame, with SAFE-zip adaptation when requested."""
    feats = client.search(collection, bbox, start, end)
    if safe_zip:
        feats = adapt_safe_items(feats, bands)
    rows = features_to_asset_rows(feats, bands, dataset or collection, tile_id)
    return assets_df(spark, rows)


def fetch_asset_pixels(assets: DataFrame) -> DataFrame:
    """Executor-side fetch + decode of STAC assets into pixel rows —
    the reference's one-Celery-task-per-asset rasterio open of a
    remote ``/vsicurl`` href (maestro.py:905-948 dispatch →
    processing.py merge open), as one Arrow-batched ``mapInPandas``
    over the assets DataFrame.

    Each row's ``link`` goes through raster_reader.read_member_bytes
    (ranged remote zip/tar members, streamed tgz, plain HTTP rasters,
    local paths) and the stdlib GeoTIFF codec; pixels come back
    row-major with (band, tile_id, date, sceneid) carried through.
    Partitioning: one task per asset batch — repartition the assets
    frame by (sceneid, band) upstream when a search returns thousands
    of assets so the fetch fans out across executors."""
    import pandas as pd

    from .cog_reader import read_tiff_band
    from .raster_reader import read_member_bytes

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"link": [], "band": [], "tile_id": [], "date": [],
                   "sceneid": [], "pixel_id": [], "value": []}
            for r in pdf.itertuples(index=False):
                buf = read_member_bytes(r.link, band=r.band,
                                        sceneid=r.sceneid)
                arr = read_tiff_band(buf)["array"].reshape(-1)
                n = len(arr)
                out["link"].extend([r.link] * n)
                out["band"].extend([r.band] * n)
                out["tile_id"].extend([r.tile_id] * n)
                out["date"].extend([r.date] * n)
                out["sceneid"].extend([r.sceneid] * n)
                out["pixel_id"].extend(range(n))
                out["value"].extend(int(v) for v in arr)
            yield pd.DataFrame(out)

    schema = ("link string, band string, tile_id string, date string, "
              "sceneid string, pixel_id long, value long")
    return assets.select("link", "band", "tile_id", "date",
                         "sceneid").mapInPandas(fetch, schema)


def fetch_asset_content(assets: DataFrame) -> DataFrame:
    """Executor-side fetch of raw asset BYTES (no decode): each row's
    ``link`` goes through raster_reader.read_member_bytes inside one
    Arrow-batched ``mapInPandas``. Feeds the decode/warp stages that
    already consume (content + passthrough columns) — the
    STAC-sourced twin of local_scan's ``with_content`` frame."""
    import pandas as pd

    from .raster_reader import read_member_bytes

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            content = [read_member_bytes(r.link, band=r.band,
                                         sceneid=r.sceneid)
                       for r in pdf.itertuples(index=False)]
            out = pdf[["link", "band", "tile_id", "date",
                       "sceneid"]].copy()
            out["content"] = content
            yield out

    schema = ("link string, band string, tile_id string, date string, "
              "sceneid string, content binary")
    return assets.select("link", "band", "tile_id", "date",
                         "sceneid").mapInPandas(fetch, schema)
