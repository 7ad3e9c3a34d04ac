"""K1 — GeoTIFF export of cube bands, pure stdlib (struct + zlib).

Reference: ``image.py:309-378`` (save_as_cog / generate_cogs: tiled
deflate GeoTIFF with georeferencing). One IFD writer, ``_encode_tiff``,
lays out every file: the header, each IFD followed by its external tag
payloads, then the block data in reverse IFD order. It switches to
BigTIFF when classic 32-bit offsets would overflow. Two band encoders
call it:

- ``write_geotiff_band``: one IFD holding one image-wide strip,
  deflate-compressed or raw.
- ``write_cog_band``: a Cloud-Optimized GeoTIFF — internal 2^n tiling,
  per-tile deflate, a nearest-resampled 2x overview pyramid in chained
  IFDs. With data in reverse IFD order, all IFDs lead the file and tile
  data runs smallest overview first, full resolution last (the
  range-request-friendly COG layout).

Both carry ModelPixelScale/ModelTiepoint georeferencing and the GDAL
nodata ASCII tag, enough for GDAL/QGIS to open the band correctly
placed. ``sources/cog_reader.CogReader`` reads everything written here.

The Spark side (``export_band_tiffs``) is an ``applyInPandas`` over
(tile, period, band) groups — the same per-product fan-out the
reference runs per Celery task, emitting one file per group.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

_TAG_TYPES = {"SHORT": 3, "LONG": 4, "DOUBLE": 12, "ASCII": 2, "LONG8": 16}

# classic TIFF's LONG offset ceiling; module-level so tests can lower
# it to exercise the auto-BigTIFF switch without writing 4 GiB
_CLASSIC_OFFSET_MAX = 0xFFFFFFFF


def _pack_tag_values(ttype: str, values) -> bytes:
    if isinstance(values, bytes):
        return values
    fmt = {"SHORT": "H", "LONG": "I", "DOUBLE": "d", "LONG8": "Q"}[ttype]
    return struct.pack(f"<{len(values)}{fmt}", *values)


def _band_tags(w: int, h: int, compression: int) -> list:
    """Tags of one single-band int16 image: (tag, type, values)."""
    return [(256, "SHORT", [w]), (257, "SHORT", [h]),     # width, length
            (258, "SHORT", [16]),                         # BitsPerSample
            (259, "SHORT", [compression]),                # 1 none, 8 deflate
            (262, "SHORT", [1]),                          # BlackIsZero
            (277, "SHORT", [1]),                          # SamplesPerPixel
            (339, "SHORT", [2])]                          # signed int


def _geo_tags(pixel_size, origin, nodata: int | None) -> list:
    tags = [(33550, "DOUBLE", struct.pack(               # ModelPixelScale
                "<3d", pixel_size[0], pixel_size[1], 0.0)),
            (33922, "DOUBLE", struct.pack(               # ModelTiepoint
                "<6d", 0.0, 0.0, 0.0, origin[0], origin[1], 0.0))]
    if nodata is not None:
        tags.append((42113, "ASCII", (str(nodata) + "\x00").encode()))
    return tags


def _encode_tiff(images: list, bigtiff: bool = False) -> bytes:
    """The one IFD writer. ``images`` holds (tags, blocks, tiled) per
    IFD; the block offset/byte-count tags (TileOffsets/TileByteCounts,
    or StripOffsets/StripByteCounts) are added here. Two passes: lay out
    header, IFDs with their external payloads and the block data, then
    assemble with the offsets known. BigTIFF widens every structural
    field: 16-byte header, 8-byte entry counts, 20-byte entries, 8-byte
    inline values and next-IFD pointers, LONG8 block offsets/counts."""
    word = "LONG8" if bigtiff else "LONG"
    ifds = []
    for tags, blocks, tiled in images:
        off_tag, cnt_tag = (324, 325) if tiled else (273, 279)
        ifds.append(sorted(tags + [(off_tag, word, [0] * len(blocks)),
                                   (cnt_tag, word, [len(b) for b in blocks])],
                           key=lambda e: e[0]))
    n_len, e_len, inline = (8, 20, 8) if bigtiff else (2, 12, 4)
    ptr = "Q" if bigtiff else "I"

    # Pass 1 — layout.
    pos = 16 if bigtiff else 8
    ifd_offsets, ext_bases = [], []
    for ifd in ifds:
        ifd_offsets.append(pos)
        pos += n_len + len(ifd) * e_len + inline
        ext_bases.append(pos)
        for _t, ttype, values in ifd:
            payload = _pack_tag_values(ttype, values)
            if len(payload) > inline:
                pos += len(payload)
    # block data in reverse IFD order: a pyramid's smallest overview
    # first, full resolution last
    block_offsets = [None] * len(images)
    for i in reversed(range(len(images))):
        block_offsets[i] = []
        for b in images[i][1]:
            block_offsets[i].append(pos)
            pos += len(b)
    if not bigtiff and pos > _CLASSIC_OFFSET_MAX:
        # classic LONG offsets would overflow — restart in BigTIFF
        # (the reference's rio_cogeo profile is BIGTIFF=IF_SAFER:
        # silently upgrade rather than emit wrapped offsets)
        return _encode_tiff(images, bigtiff=True)

    # Pass 2 — assemble.
    out = [struct.pack("<2sHHHQ", b"II", 43, 8, 0, 16) if bigtiff
           else struct.pack("<2sHI", b"II", 42, 8)]
    for i, ifd in enumerate(ifds):
        ext_off = ext_bases[i]
        entries, ext = [struct.pack("<" + ("Q" if bigtiff else "H"),
                                    len(ifd))], []
        for t, ttype, values in ifd:
            if t in (273, 324):
                values = block_offsets[i]
            payload = _pack_tag_values(ttype, values)
            count = (len(payload) // 8 if ttype == "DOUBLE" else
                     len(payload) if ttype == "ASCII" else len(values))
            if len(payload) > inline:
                ref = struct.pack("<" + ptr, ext_off)
                ext_off += len(payload)
                ext.append(payload)
            else:
                ref = payload.ljust(inline, b"\x00")
            entries.append(struct.pack("<HH" + ptr, t, _TAG_TYPES[ttype],
                                       count) + ref)
        next_ifd = ifd_offsets[i + 1] if i + 1 < len(ifds) else 0
        entries.append(struct.pack("<" + ptr, next_ifd))
        out += entries + ext
    for i in reversed(range(len(images))):
        out += images[i][1]
    return b"".join(out)


def write_geotiff_band(arr: np.ndarray, *, pixel_size=(30.0, 30.0),
                       origin=(0.0, 0.0), nodata: int | None = -9999,
                       compress: bool = True) -> bytes:
    """Encode an (h, w) int16 array as a little-endian GeoTIFF with one
    image-wide strip."""
    arr = np.ascontiguousarray(arr, dtype="<i2")
    h, w = arr.shape
    raw = arr.tobytes()
    tags = (_band_tags(w, h, 8 if compress else 1)
            + [(278, "SHORT", [h])]                       # RowsPerStrip
            + _geo_tags(pixel_size, origin, nodata))
    return _encode_tiff(
        [(tags, [zlib.compress(raw, 6) if compress else raw], False)])


def _tile_grid(arr: np.ndarray, tile: int) -> list[bytes]:
    """Compressed tile payloads in row-major tile order, each padded to
    the full (tile, tile) shape as TIFF requires."""
    h, w = arr.shape
    out = []
    for ty in range(0, h, tile):
        for tx in range(0, w, tile):
            block = np.zeros((tile, tile), dtype="<i2")
            sub = arr[ty:ty + tile, tx:tx + tile]
            block[:sub.shape[0], :sub.shape[1]] = sub
            out.append(zlib.compress(block.tobytes(), 6))
    return out


def write_cog_band(arr: np.ndarray, *, tile: int = 512,
                   pixel_size=(30.0, 30.0), origin=(0.0, 0.0),
                   nodata: int | None = -9999,
                   bigtiff: bool = False) -> bytes:
    """Encode an (h, w) int16 array as a Cloud-Optimized GeoTIFF:
    internally tiled (TileWidth/TileLength/TileOffsets/TileByteCounts),
    deflate per tile, with a nearest-resampled 2x overview pyramid in
    chained IFDs (NewSubfileType=1) until a level fits one tile — the
    same layout rio_cogeo's deflate profile produces for the reference
    (``image.py:334-378``: cog_translate, blocksize 512, nearest
    overviews). IFDs lead the file and tile data is written smallest
    overview first, full resolution last, so HTTP range readers can
    fetch header+overviews cheaply — the property that makes a COG a
    COG."""
    arr = np.ascontiguousarray(arr, dtype="<i2")
    levels = [arr]
    while min(levels[-1].shape) > tile:
        levels.append(np.ascontiguousarray(levels[-1][::2, ::2]))
    images = []
    for li, a in enumerate(levels):
        h, w = a.shape
        tags = _band_tags(w, h, 8) + [(322, "SHORT", [tile]),
                                      (323, "SHORT", [tile])]
        if li:
            tags.append((254, "LONG", [1]))      # NewSubfileType: overview
        else:
            tags += _geo_tags(pixel_size, origin, nodata)
        images.append((tags, _tile_grid(a, tile), True))
    return _encode_tiff(images, bigtiff)


def export_band_tiffs(cube: DataFrame, out_dir: str, ncols: int = 32,
                      value_col: str = "value", cog: bool = False,
                      cog_tile: int = 256) -> DataFrame:
    """One GeoTIFF per (tile, period, band) from cube rows — the K1
    fan-out as applyInPandas; returns the manifest (path, byte size).
    ``cog=True`` writes the tiled + overview-pyramid layout instead of
    the single-strip file."""
    import os

    from pyspark.sql import functions as F

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pixel_id")
        npx = int(pdf["pixel_id"].max()) + 1
        h = (npx + ncols - 1) // ncols
        arr = np.full(h * ncols, -9999, np.int16)
        arr[pdf["pixel_id"].to_numpy()] = pdf[value_col].to_numpy(np.int16)
        tile = int(pdf["tile_id"].iloc[0])
        period, band = pdf["period"].iloc[0], pdf["band"].iloc[0]
        if cog:
            buf = write_cog_band(arr.reshape(h, ncols), tile=cog_tile,
                                 origin=(tile * ncols * 30.0, 0.0))
        else:
            buf = write_geotiff_band(arr.reshape(h, ncols),
                                     origin=(tile * ncols * 30.0, 0.0))
        path = os.path.join(out_dir, f"t{tile:03d}_{period}_{band}.tif")
        os.makedirs(out_dir, exist_ok=True)
        with open(path, "wb") as f:
            f.write(buf)
        return pd.DataFrame([{"tile_id": tile, "period": period, "band": band,
                              "path": path, "n_bytes": len(buf)}])

    return (cube.groupBy("tile_id", "period", "band").applyInPandas(
        build, "tile_id long, period string, band string, path string, n_bytes long"))
