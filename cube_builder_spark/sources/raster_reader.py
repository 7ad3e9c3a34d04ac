"""S5–S7, S9, S12, S13 — raster readers: URI dispatch + executor-side
windowed read/warp.

Reference: ``drivers/datasets/__init__.py:34-101`` (dataset_from_uri:
zip/tar/SAFE/Landsat-tgz detection), ``drivers/datasets/base.py:30-135``
(generic rasterio open + windowed read), ``sentinel2.py:44-111`` (SAFE
subdataset by band group), ``landsat.py:24-43`` (tgz member synthesis),
``image.py:293-306`` (integrity probe), ``processing.py:418-443``
(remote reachability probe).

Spark-native split:
- **URI dispatch, member-path synthesis, SAFE band-group resolution**
  are pure string logic — implemented and tested here with no I/O.
- **The actual GDAL open/read/warp** needs rasterio, which is not in
  this container: ``open_raster`` raises a clear ``NotImplementedError``
  unless rasterio imports. The executor-side entry point
  (``read_assets``) is a ``mapInPandas`` over asset rows — exactly the
  reference's one-Celery-task-per-asset shape, Arrow-batched.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

try:                                    # gated: not in this container
    import rasterio                     # type: ignore
except ImportError:                     # pragma: no cover
    rasterio = None

_GLYMUR_UNSET = object()
_glymur_mod = _GLYMUR_UNSET


def _glymur():
    """Optional JP2 codec probe (S5). glymur wraps OpenJPEG; when it is
    importable on a rasterio-less executor, open_raster decodes SAFE
    JP2 payloads through it instead of gating. Probed once per worker
    process and cached (import cost is per-interpreter, not per-row)."""
    global _glymur_mod
    if _glymur_mod is _GLYMUR_UNSET:
        try:
            import glymur               # type: ignore
            _glymur_mod = glymur
        except ImportError:             # pragma: no cover
            _glymur_mod = None
    return _glymur_mod

# SAFE band → resolution group (sentinel2.py:44-76)
SAFE_BAND_GROUPS = {
    "B02": "10m", "B03": "10m", "B04": "10m", "B08": "10m",
    "B05": "20m", "B06": "20m", "B07": "20m", "B8A": "20m",
    "B11": "20m", "B12": "20m", "SCL": "20m",
    "B01": "60m", "B09": "60m", "B10": "60m",
    "TCI": "10m",
}


def dispatch_uri(uri: str, band: str | None = None,
                 sceneid: str | None = None) -> dict:
    """S6 (dataset_from_uri, drivers/datasets/__init__.py:34-101):
    classify a URI and produce the concrete GDAL path to open.
    ``file://`` URIs are local for EVERY container kind (a
    /vsicurl/file:// path would be nonsense — GDAL's curl driver is for
    network schemes only)."""
    low = uri.lower()
    remote = "://" in uri and not uri.startswith("file://")
    local_path = uri.removeprefix("file://")
    if low.endswith(".safe.zip") or (".safe" in low and low.endswith(".zip")):
        kind = "sentinel_safe_zip"
        vsi = f"/vsizip//vsicurl/{uri}" if remote else f"/vsizip/{local_path}"
    elif low.endswith(".zip"):
        kind = "zip"
        vsi = f"/vsizip//vsicurl/{uri}" if remote else f"/vsizip/{local_path}"
    elif low.endswith((".tar.gz", ".tgz", ".tar")):
        # gzipped tars stream (no random access inside a DEFLATE
        # stream); PLAIN tars support ranged member scans
        kind = "landsat_tar" if low.endswith(".tar") else "landsat_tgz"
        base = f"/vsitar//vsicurl/{uri}" if remote else f"/vsitar/{local_path}"
        member = landsat_tgz_member(sceneid or "", band or "")
        vsi = f"{base}/{member}" if member else base
    elif remote:
        kind = "remote"
        vsi = f"/vsicurl/{uri}"
    else:
        kind = "local"
        vsi = local_path
    out = {"kind": kind, "gdal_path": vsi}
    if kind == "sentinel_safe_zip" and band:
        out["band_group"] = SAFE_BAND_GROUPS.get(band, "20m")
    return out


def landsat_tgz_member(sceneid: str, band: str) -> str:
    """S9 (landsat.py:24-43): member path '{scene_id}_{band}.TIF'
    inside the tarball."""
    if not sceneid or not band:
        return ""
    return f"{sceneid}_{band}.TIF"


def _pick_zip_member(names: list[str], band: str | None,
                     band_group: str | None) -> str:
    """SAFE/zip member resolution (sentinel2.py:77-111: subdataset by
    resolution group, band index by description): prefer a member that
    names the band AND its resolution group (R10m/R20m/R60m directory
    or _10m suffix), else any member naming the band, else the single
    raster member."""
    rasters = [n for n in names
               if n.lower().endswith((".tif", ".tiff", ".jp2"))]
    if band:
        named = [n for n in rasters
                 if f"_{band}".lower() in n.rsplit("/", 1)[-1].lower()]
        if band_group:
            grouped = [n for n in named if band_group.lower() in n.lower()]
            if grouped:
                return grouped[0]
        if named:
            return named[0]
    if len(rasters) == 1:
        return rasters[0]
    raise FileNotFoundError(
        f"cannot resolve band {band!r} among {len(rasters)} raster members")


def _zip64_extra_fields(extra: bytes, usize: int, csize: int,
                        lho: int) -> tuple[int, int]:
    """Resolve a central-directory entry's ZIP64 extended-info extra
    field (header id 0x0001). Its 8-byte values appear IN ORDER for
    exactly the fixed-record fields that saturated at 0xFFFFFFFF:
    uncompressed size, compressed size, local-header offset (APPNOTE
    4.5.3). Returns the resolved (csize, lho)."""
    import struct
    pos = 0
    while pos + 4 <= len(extra):
        hid, sz = struct.unpack_from("<HH", extra, pos)
        if hid == 0x0001:
            fpos = pos + 4
            end = pos + 4 + sz                 # declared 0x0001 block end

            def _take(fpos):
                # bounds-check against the DECLARED block size: a short
                # or malformed ZIP64 extra must error, not silently
                # read bytes belonging to the next extra field
                if fpos + 8 > end or fpos + 8 > len(extra):
                    raise ValueError(
                        f"truncated ZIP64 extra block (size {sz})")
                return struct.unpack_from("<Q", extra, fpos)[0]

            if usize == 0xFFFFFFFF:
                _take(fpos)                    # present but unused here
                fpos += 8
            if csize == 0xFFFFFFFF:
                csize = _take(fpos)
                fpos += 8
            if lho == 0xFFFFFFFF:
                lho = _take(fpos)
            return csize, lho
        pos += 4 + sz
    raise ValueError("ZIP64-saturated entry without a 0x0001 extra field")


def _remote_zip_member(uri: str, band: str | None,
                       band_group: str | None,
                       fetcher=None) -> bytes:
    """Zip/SAFE member over HTTP ranges WITHOUT GDAL — the
    /vsizip//vsicurl access pattern: range the End-Of-Central-
    Directory tail, range the central directory, resolve the member
    (SAFE band-group rules), then range exactly that member's bytes.
    Total transfer ≈ tail block + central directory + the one member —
    never the whole archive. All reads go through cog_reader's
    RangeFetcher (round-5: replaces hand-rolled urllib ranges), so
    adjacent local-header + member reads coalesce into one request,
    repeat reads hit the block cache, and a server that ignores Range
    degrades to one cached full-body fetch."""
    import struct
    import zlib

    from .cog_reader import RangeFetcher

    f = fetcher or RangeFetcher(uri)
    total = f.size()
    # EOCD lives in the last 22..(22+64K) bytes
    tail_len = min(total, 65558)
    tail_base = total - tail_len
    tail = f.get(tail_base, tail_len)
    eocd = tail.rfind(b"PK\x05\x06")
    if eocd < 0:
        raise ValueError(f"no zip end-of-central-directory in {uri!r}")
    n_entries, cd_size, cd_off = struct.unpack_from("<HII", tail, eocd + 10)
    if 0xFFFF in (n_entries,) or 0xFFFFFFFF in (cd_size, cd_off):
        # ZIP64 (real Sentinel SAFE archives routinely exceed 4 GiB —
        # GDAL handles this inside /vsizip): the 20-byte EOCD LOCATOR
        # sits immediately before the EOCD and points at the ZIP64
        # EOCD RECORD, which carries the 64-bit entry count / central
        # directory size / offset.
        loc = eocd - 20
        if loc < 0 or tail[loc:loc + 4] != b"PK\x06\x07":
            raise ValueError(
                f"ZIP64 markers present but no EOCD locator in {uri!r}")
        z64_off, = struct.unpack_from("<Q", tail, loc + 8)
        # the record usually sits right before the locator (already in
        # the cached tail); f.get serves it from cache either way
        rec = f.get(z64_off, 56)
        if rec[:4] != b"PK\x06\x06":
            raise ValueError(f"bad ZIP64 EOCD record in {uri!r}")
        n_entries, cd_size, cd_off = struct.unpack_from("<QQQ", rec, 32)

    fetch = f.get
    cd = fetch(cd_off, cd_size)
    entries, pos = {}, 0
    for _ in range(n_entries):
        if cd[pos:pos + 4] != b"PK\x01\x02":
            break
        method, = struct.unpack_from("<H", cd, pos + 10)
        csize, usize = struct.unpack_from("<II", cd, pos + 20)
        nlen, elen, clen = struct.unpack_from("<HHH", cd, pos + 28)
        lho, = struct.unpack_from("<I", cd, pos + 42)
        name = cd[pos + 46:pos + 46 + nlen].decode()
        if 0xFFFFFFFF in (csize, usize, lho):
            extra = cd[pos + 46 + nlen:pos + 46 + nlen + elen]
            csize, lho = _zip64_extra_fields(extra, usize, csize, lho)
        entries[name] = (method, csize, lho)
        pos += 46 + nlen + elen + clen
    member = _pick_zip_member(list(entries), band, band_group)
    method, csize, lho = entries[member]
    lh = fetch(lho, 30)
    nlen, elen = struct.unpack_from("<HH", lh, 26)
    data = fetch(lho + 30 + nlen + elen, csize)
    if method == 0:
        return data
    if method == 8:
        return zlib.decompress(data, -15)
    raise NotImplementedError(f"zip compression method {method}")


def _tar_checksum_ok(hdr: bytes) -> bool:
    """Validate a tar header's checksum (bytes 148–156: octal sum of
    the header with the checksum field read as spaces). A corrupt or
    misaligned stream then raises instead of yielding garbage member
    offsets; the caller falls back to the streamed-spool path."""
    field = hdr[148:156].rstrip(b"\x00 ")
    try:
        want = int(field or b"0", 8)
    except ValueError:
        return False
    got = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
    return got == want


def _parse_pax(payload: bytes) -> dict[str, str]:
    """PAX extended-header records: repeated '<len> <key>=<value>\\n'
    (len counts the whole record including itself and the newline)."""
    out: dict[str, str] = {}
    pos = 0
    while pos < len(payload):
        sp = payload.find(b" ", pos)
        if sp < 0:
            break
        try:
            rec_len = int(payload[pos:sp])
        except ValueError:
            break
        rec = payload[sp + 1:pos + rec_len]
        eq = rec.find(b"=")
        if eq > 0:
            out[rec[:eq].decode("utf-8", "replace")] = \
                rec[eq + 1:].rstrip(b"\n").decode("utf-8", "replace")
        if rec_len <= 0:
            break
        pos += rec_len
    return out


def _remote_tar_member(uri: str, band: str | None,
                       sceneid: str | None, fetcher=None) -> bytes:
    """PLAIN-tar member over HTTP ranges — the /vsitar//vsicurl
    pattern for uncompressed tars (reference
    drivers/datasets/__init__.py:72-101 range-probes the container
    before choosing an access path): walk the 512-byte member headers
    with ranged reads (block-cached/coalesced by RangeFetcher), then
    fetch ONLY the resolved member's data range. Gzipped tars can't do
    this — a DEFLATE stream has no random access — so .tar.gz stays on
    the streamed-spool path."""
    from .cog_reader import RangeFetcher

    f = fetcher or RangeFetcher(uri)
    total = f.size()
    members: dict[str, tuple[int, int]] = {}
    pos = 0
    # PAX 'x' records and GNU 'L' longname records carry the REAL name
    # of the FOLLOWING member (modern tar defaults emit them for >100
    # char names and large members); 'g' records set archive-global
    # defaults. Skipping them as non-regular surfaces truncated header
    # names and mis-resolves the suffix fallback.
    pending_name: str | None = None
    pending_size: int | None = None
    global_name: str | None = None
    while pos + 512 <= total:
        hdr = f.get(pos, 512)
        if len(hdr) < 512 or hdr[:1] == b"\x00":
            break                       # end-of-archive zero block
        if not _tar_checksum_ok(hdr):
            raise ValueError(
                f"bad tar header checksum at offset {pos} in {uri!r}")
        size_field = hdr[124:136].rstrip(b"\x00 ") or b"0"
        sz = int(size_field, 8)
        typ = hdr[156:157]
        if typ in (b"x", b"g"):         # PAX extended header
            pax = _parse_pax(f.get(pos + 512, sz))
            if "path" in pax:
                if typ == b"x":
                    pending_name = pax["path"]
                else:
                    global_name = pax["path"]
            # a per-file PAX 'size' overrides the ustar octal field
            # (emitted for >8 GiB members, where the 12-char octal
            # saturates); ignoring it would misalign every later
            # header offset in the walk
            if typ == b"x" and "size" in pax:
                try:
                    pending_size = int(pax["size"])
                except ValueError:
                    pass
        elif typ == b"L":               # GNU longname
            pending_name = (f.get(pos + 512, sz)
                            .split(b"\x00", 1)[0].decode("utf-8", "replace"))
        elif typ == b"K":               # GNU longlink: linkname of the
            pass                        # NEXT member — skip its payload
            #                             WITHOUT consuming pending_name
            #                             (GNU tar/CPython emit 'K'
            #                             then 'L', other writers the
            #                             reverse; both orders survive)
        else:
            name = hdr[0:100].split(b"\x00", 1)[0] \
                .decode("utf-8", "replace")
            prefix = hdr[345:500].split(b"\x00", 1)[0] \
                .decode("utf-8", "replace")
            if prefix and hdr[257:262] == b"ustar":
                name = f"{prefix}/{name}"
            name = pending_name or global_name or name
            pending_name = None
            if pending_size is not None:
                sz = pending_size
                pending_size = None
            if typ in (b"0", b"\x00"):  # regular file
                members[name] = (pos + 512, sz)
        pos += 512 + ((sz + 511) // 512) * 512

    member = landsat_tgz_member(sceneid or "", band or "")
    if member not in members:
        suffix = f"_{band}.TIF" if band else ".TIF"
        cands = [n for n in members
                 if n.upper().endswith(suffix.upper())]
        if not cands:
            raise FileNotFoundError(
                f"no member {member!r} (or *{suffix}) in {uri}")
        member = cands[0]
    off, sz = members[member]
    return f.get(off, sz)


def _zip_member_from_bytes(buf: bytes, band: str | None,
                           band_group: str | None) -> bytes:
    import io
    import zipfile
    with zipfile.ZipFile(io.BytesIO(buf)) as zf:
        member = _pick_zip_member(zf.namelist(), band, band_group)
        return zf.read(member)


def read_member_bytes(uri: str, band: str | None = None,
                      sceneid: str | None = None) -> bytes:
    """S5/S7/S9 container access WITHOUT GDAL: plain file read, zip
    member (generic or SAFE band-group resolution, stdlib ``zipfile``
    standing in for /vsizip; HTTP-range central-directory walk for
    remote zips standing in for /vsizip//vsicurl), or tar.gz member
    (Landsat ``{sceneid}_{band}.TIF`` synthesis with suffix-match
    fallback, stdlib ``tarfile`` standing in for /vsitar). Remote
    plain rasters fetch over HTTP (urllib; ranged windows via
    sources.cog_reader). Remote tar.gz streams the whole archive into
    spooled scratch first — a gzip stream has no random access, so a
    ranged member read is impossible BY CONSTRUCTION; GDAL's
    /vsitar//vsicurl likewise decompresses sequentially up to the
    member, and the reference's S9 detection reads the first 512
    bytes only to pick the access path (landsat.py:24-43)."""
    import tarfile
    import urllib.request
    import zipfile

    info = dispatch_uri(uri, band, sceneid)
    path = uri.removeprefix("file://")
    if "://" in path:
        if info["kind"] == "remote":
            with urllib.request.urlopen(uri) as resp:
                return resp.read()
        if info["kind"] in ("zip", "sentinel_safe_zip"):
            return _remote_zip_member(uri, band, info.get("band_group"))
        if info["kind"] == "landsat_tar":
            try:
                return _remote_tar_member(uri, band, sceneid)
            except ValueError:
                # header-walk parse failure (checksum/format): fall
                # back to the streamed spool, where stdlib tarfile
                # handles every format variant
                return _spool_remote_tar(uri, band, sceneid)
        if info["kind"] == "landsat_tgz":
            return _spool_remote_tar(uri, band, sceneid)
        raise NotImplementedError(f"unsupported remote container: {uri}")
    if info["kind"] in ("zip", "sentinel_safe_zip"):
        with zipfile.ZipFile(path) as zf:
            member = _pick_zip_member(zf.namelist(), band,
                                      info.get("band_group"))
            return zf.read(member)
    if info["kind"] in ("landsat_tgz", "landsat_tar"):
        with tarfile.open(path, "r:*") as tf:
            return _tgz_member_bytes(tf, band, sceneid, uri)
    with open(path, "rb") as f:
        return f.read()


def _spool_remote_tar(uri: str, band: str | None,
                      sceneid: str | None) -> bytes:
    """Stream the whole remote tar into spooled scratch and resolve
    the member with stdlib tarfile. The required path for .tar.gz
    (DEFLATE has no random access — GDAL's /vsitar//vsicurl likewise
    decompresses sequentially) and the fallback when the ranged
    header walk can't parse a plain tar."""
    import shutil
    import tarfile
    import tempfile
    import urllib.request
    with urllib.request.urlopen(uri) as resp, \
            tempfile.SpooledTemporaryFile(max_size=64 << 20) as sp:
        shutil.copyfileobj(resp, sp)
        sp.seek(0)
        with tarfile.open(fileobj=sp, mode="r:*") as tf:
            return _tgz_member_bytes(tf, band, sceneid, uri)


def _tgz_member_bytes(tf, band: str | None, sceneid: str | None,
                      uri: str) -> bytes:
    """Landsat member pick inside an open tarfile: exact
    ``{sceneid}_{band}.TIF`` synthesis (landsat.py:24-43) with a
    suffix-match fallback."""
    names = tf.getnames()
    member = landsat_tgz_member(sceneid or "", band or "")
    if member not in names:
        suffix = f"_{band}.TIF" if band else ".TIF"
        cands = [n for n in names if n.upper().endswith(suffix.upper())]
        if not cands:
            raise FileNotFoundError(
                f"no member {member!r} (or *{suffix}) in {uri}")
        member = cands[0]
    f = tf.extractfile(member)
    if f is None:
        raise FileNotFoundError(member)
    return f.read()


def open_raster(uri: str, band: str | None = None, sceneid: str | None = None):
    """S5 (base.py:30-135): open any raster URI. With rasterio present,
    GDAL handles every format via the dispatched /vsi path. Without it,
    the stdlib path reads the archive member (zip/SAFE/tgz) and decodes
    TIFF content with ``cog_reader.read_tiff_band`` — returning the
    {array, origin, pixel_size, nodata} dict the warp/mosaic operators
    consume. JP2 payloads (SAFE's native encoding) have no stdlib
    codec: clearly gated."""
    if rasterio is not None:                          # pragma: no cover
        info = dispatch_uri(uri, band, sceneid)
        return rasterio.open(info["gdal_path"])
    buf = read_member_bytes(uri, band, sceneid)
    if buf[:4] in (b"II\x2a\x00", b"II\x2b\x00", b"MM\x00\x2a"):
        # classic TIFF or BigTIFF (the reference's save_as_cog BIGTIFF
        # option); big-endian files raise ValueError in the reader
        from .cog_reader import read_tiff_band
        return read_tiff_band(buf)
    if buf[:4] == b"\x00\x00\x00\x0c" or buf[:2] == b"\xff\x4f":
        if _glymur() is not None:
            return decode_jp2(buf)
        raise NotImplementedError(
            "JP2 decode needs rasterio/GDAL or glymur — the archive "
            "member was located and read; only the codec is missing")
    raise NotImplementedError(
        f"no stdlib codec for magic {buf[:4]!r}; install rasterio")


def decode_jp2(buf: bytes) -> dict:
    """Decode a JP2/J2K payload via glymur (OpenJPEG) into the same
    {array, origin, pixel_size, nodata} dict the warp/mosaic operators
    consume (parity with cog_reader.read_tiff_band).

    The reference decodes JP2 through GDAL (reference
    cube_builder/drivers/datasets/sentinel/sentinel2.py:44-111, which
    hands /vsizip JP2 paths to rasterio); this is the rasterio-less
    executor path. glymur's Jp2k reads from a path, so the member
    bytes are spooled to a tmpfs-backed temp file — one small file per
    decode, removed immediately; at scale this is per-task local I/O,
    never a shuffle.

    Georeferencing: Sentinel-2 SAFE JP2s embed a GMLJP2 box. glymur
    exposes raw boxes, but the origin/offset live in a tiny XML
    fragment — parsed best-effort from the payload bytes directly
    (``gml:pos``/``offsetVector``); absent → origin (0,0), unit pixel,
    matching the empty-georef contract of read_tiff_band."""
    gly = _glymur()
    if gly is None:
        raise NotImplementedError("glymur not importable")
    import os
    import tempfile
    fd, path = tempfile.mkstemp(
        suffix=".jp2",
        dir="/dev/shm" if os.access("/dev/shm", os.W_OK) else None)
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(buf)
        arr = gly.Jp2k(path)[:]
    finally:
        try:
            os.unlink(path)
        except OSError:
            pass
    # every consumer of the raster dict (warp/mosaic, read_tiff_band
    # parity) expects a 2-D single-band array; a multi-component JP2
    # comes back (h, w, c) — squeeze a singleton component axis, reject
    # the rest loudly instead of letting 3-D arrays corrupt downstream.
    if arr.ndim == 3 and arr.shape[2] == 1:
        arr = arr[:, :, 0]
    if arr.ndim != 2:
        raise ValueError(
            f"multi-component JP2 unsupported: decoded shape {arr.shape}; "
            "extract a single band upstream")
    origin, pixel_size = _jp2_georef(buf)
    return {"array": arr, "origin": origin, "pixel_size": pixel_size,
            "nodata": None}


def _jp2_georef(buf: bytes) -> tuple[tuple[float, float], tuple[float, float]]:
    """Best-effort GMLJP2 georeferencing: upper-left corner from the
    first ``gml:pos``/``gml:lowerCorner`` and pixel size from the two
    ``gml:offsetVector`` rows. Returns ((0,0),(1,1)) when absent."""
    import re
    head = buf[:1 << 20]                  # GMLJP2 box sits in the header
    pos = re.search(rb"<gml:pos>([-\d.eE]+)\s+([-\d.eE]+)</gml:pos>", head)
    offs = re.findall(
        rb"<gml:offsetVector[^>]*>([-\d.eE]+)\s+([-\d.eE]+)"
        rb"</gml:offsetVector>", head)
    if pos is None or len(offs) < 2:
        return (0.0, 0.0), (1.0, 1.0)
    ox, oy = float(pos.group(1)), float(pos.group(2))
    # row 0 is the x step (dx, 0), row 1 the y step (0, -dy). A rotated
    # grid (both components of one vector nonzero) is unsupported —
    # fall back to the unit default rather than guessing an axis; same
    # for degenerate all-zero vectors (downstream divides by pixel
    # size, so 0.0 must never escape here).
    r0x, r0y = float(offs[0][0]), float(offs[0][1])
    r1x, r1y = float(offs[1][0]), float(offs[1][1])
    if (r0x and r0y) or (r1x and r1y):
        return (0.0, 0.0), (1.0, 1.0)
    dx = r0x or r0y
    dy = r1y or r1x
    if dx == 0.0 or dy == 0.0:
        return (0.0, 0.0), (1.0, 1.0)
    return (ox, oy), (abs(dx), abs(dy))


def probe_integrity(uri: str, read_bytes: bool = False) -> tuple[bool, str | None]:
    """S12 (check_file_integrity, image.py:293-306): open (optionally
    read) to validate. Without rasterio: existence + non-empty check
    for local files, so the probe pipeline stays executable."""
    import os
    path = uri.removeprefix("file://")
    if rasterio is not None:                          # pragma: no cover
        try:
            with rasterio.open(dispatch_uri(uri)["gdal_path"]) as ds:
                if read_bytes:
                    ds.read(1)
            return True, None
        except Exception as e:
            return False, str(e)
    if "://" in uri and not uri.startswith("file://"):
        return False, "remote probe requires rasterio/GDAL"
    if not os.path.exists(path):
        return False, "missing"
    if os.path.getsize(path) == 0:
        return False, "empty file"
    if read_bytes:
        # full-read validation through the stdlib archive+codec path
        # (the reference's ds.read(1) deep probe, image.py:300-304)
        try:
            open_raster(uri)
        except NotImplementedError:
            pass        # located + read, codec missing: shallow-valid
        except Exception as e:
            return False, str(e)
    return True, None


def probe_assets_df(assets: DataFrame, read_bytes: bool = False) -> DataFrame:
    """S12/S20 executor-side probe: mapInPandas over asset rows →
    (link, valid, error). One Arrow batch per partition; at scale this
    is the reference's threaded validation fan-out (image.py:107-114)
    as a distributed map."""
    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            results = [probe_integrity(u, read_bytes) for u in pdf["link"]]
            yield pd.DataFrame({
                "link": pdf["link"],
                "valid": [ok for ok, _ in results],
                "error": [err for _, err in results]})

    return assets.select("link").mapInPandas(
        probe, "link string, valid boolean, error string")


def decode_geotiff_pixels(files: DataFrame, extra_cols: list[str] = ()) -> DataFrame:
    """Executor-side raster decode WITHOUT rasterio: parse striped
    GeoTIFF or tiled COG binaryFile content (cog_reader.py) into pixel
    rows (row-major pixel_id, nodata preserved as sentinel values).

    This is the same mapInPandas slot rasterio-based S5 plugs into —
    one Arrow batch of (path, content, metadata) per partition in, a
    pixel-row (or block-row) frame out. ``extra_cols`` pass through
    (band, date, tile_id... from the S4 path classification).
    """
    from .cog_reader import read_tiff_band

    extra_cols = list(extra_cols)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"path": [], "pixel_id": [], "value": []}
            for c in extra_cols:
                out[c] = []
            for i in range(len(pdf)):
                got = read_tiff_band(bytes(pdf["content"].iloc[i]))
                arr = got["array"].reshape(-1)
                out["path"].extend([pdf["path"].iloc[i]] * len(arr))
                out["pixel_id"].extend(range(len(arr)))
                out["value"].extend(int(v) for v in arr)
                for c in extra_cols:
                    out[c].extend([pdf[c].iloc[i]] * len(arr))
            yield pd.DataFrame(out)

    schema = ("path string, pixel_id long, value long"
              + "".join(f", {c} string" for c in extra_cols))
    return files.mapInPandas(parse, schema)
