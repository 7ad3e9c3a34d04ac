"""Ranged COG reader (S5 remote half): header+IFD parse and windowed
tile reads over local paths, file:// and http:// — the /vsicurl access
pattern (reference drivers/datasets/__init__.py:78-83, config.py:85-88)
with stdlib urllib against the repo's own COG layout.
"""

from __future__ import annotations

import http.server
import os
import re
import threading

import numpy as np
import pytest

from cube_builder_spark.sinks.cog import write_cog_band, write_geotiff_band
from cube_builder_spark.sources.cog_reader import (CogReader, RangeFetcher,
                                                   read_cog_window,
                                                   read_tiff_band)

H, W, TILE = 512, 768, 128


@pytest.fixture(scope="module")
def cog_file(tmp_path_factory):
    arr = (np.arange(H * W, dtype=np.int64) * 37 % 20001 - 10000).astype("<i2")
    arr = arr.reshape(H, W)
    buf = write_cog_band(arr, tile=TILE, pixel_size=(30.0, 30.0),
                         origin=(500000.0, 8000000.0), nodata=-9999)
    d = tmp_path_factory.mktemp("cogs")
    path = d / "scene_B04.tif"
    path.write_bytes(buf)
    return str(path), arr, len(buf)


class _RangeHandler(http.server.SimpleHTTPRequestHandler):
    """SimpleHTTPRequestHandler ignores Range; this one serves 206
    partials like a real object store."""

    def log_message(self, *a):                  # quiet
        pass

    def do_GET(self):
        path = self.translate_path(self.path)
        if not os.path.isfile(path):
            self.send_error(404)
            return
        with open(path, "rb") as f:
            data = f.read()
        m = re.match(r"bytes=(\d+)-(\d+)?$",
                     self.headers.get("Range", "") or "")
        if m:
            lo = int(m.group(1))
            hi = min(int(m.group(2) or len(data) - 1), len(data) - 1)
            body = data[lo:hi + 1]
            self.send_response(206)
            self.send_header("Content-Range",
                             f"bytes {lo}-{hi}/{len(data)}")
        else:
            body = data
            self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture(scope="module")
def http_url(cog_file):
    path, _arr, _size = cog_file
    directory = os.path.dirname(path)
    handler = lambda *a, **kw: _RangeHandler(*a, directory=directory, **kw)
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/{os.path.basename(path)}"
    srv.shutdown()


def test_window_read_local(cog_file):
    path, arr, size = cog_file
    r = CogReader(path)
    assert r.geo == {"pixel_size": (30.0, 30.0),
                     "origin": (500000.0, 8000000.0), "nodata": -9999}
    win = r.read_window(40, 50, 20, 33)
    np.testing.assert_array_equal(win, arr[40:60, 50:83])
    # ranged access: a 20x33 window must not read the whole file
    assert r.fetcher.bytes_fetched < size / 2


def test_window_read_file_uri(cog_file):
    path, arr, _ = cog_file
    win = read_cog_window(f"file://{path}", 0, 0, TILE, TILE)
    np.testing.assert_array_equal(win, arr[:TILE, :TILE])


def test_window_read_http_ranged(cog_file, http_url):
    _path, arr, size = cog_file
    r = CogReader(http_url)
    win = r.read_window(10, 100, 30, 50)
    np.testing.assert_array_equal(win, arr[10:40, 100:150])
    assert r.fetcher.bytes_fetched < size / 2
    assert r.fetcher.n_requests >= 2      # header + tile ranges


def test_overview_read_touches_file_head_only(cog_file, http_url):
    _path, arr, size = cog_file
    r = CogReader(http_url)
    assert len(r.levels) >= 2
    ov = r.read_window(0, 0, H // 2, W // 2, level=1)
    np.testing.assert_array_equal(ov, arr[::2, ::2])
    # overview data is written before full-res data: cheap to range
    assert r.fetcher.bytes_fetched < size / 2


def test_http_200_fallback(cog_file, http_url, monkeypatch):
    """A server that ignores Range yields one full-body fetch, then
    everything is served from memory."""
    _path, arr, size = cog_file
    f = RangeFetcher(http_url)
    real = f._fetch_raw

    def no_range(start, length):
        import urllib.request
        f.n_requests += 1
        with urllib.request.urlopen(http_url) as resp:   # no Range header
            body = resp.read()
        f.bytes_fetched += len(body)
        f._full = body
        return body[start:start + length]

    f._fetch_raw = no_range
    r = CogReader(http_url, fetcher=f)
    win = r.read_window(0, 0, H, W)
    np.testing.assert_array_equal(win, arr)
    assert f.n_requests == 1


def test_remote_plain_raster_full_fetch(cog_file, http_url):
    """read_member_bytes serves plain remote rasters via urllib.
    Remote zip members read over HTTP ranges (below) and remote tar.gz
    members stream into spooled scratch (test_archive_readers) — no
    remote container is gated anymore."""
    from cube_builder_spark.sources.raster_reader import read_member_bytes
    path, arr, _ = cog_file
    buf = read_member_bytes(http_url)
    assert buf == open(path, "rb").read()
    np.testing.assert_array_equal(read_tiff_band(buf)["array"], arr)


def test_remote_zip_member_over_ranges(tmp_path_factory, http_url, cog_file):
    """SAFE-style zip member over HTTP ranges: EOCD + central directory
    + one member — never the whole archive (the /vsizip//vsicurl
    pattern, stdlib only)."""
    import urllib.request
    import zipfile

    from cube_builder_spark.sources.raster_reader import read_member_bytes

    path, _arr, _ = cog_file
    d = tmp_path_factory.mktemp("zips")
    zpath = d / "S2B_MSIL2A_TEST.SAFE.zip"
    big_filler = bytes(bytearray(range(256)) * 4096)     # 1 MB, stored
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("S2B.SAFE/GRANULE/R20m/T23LLA_B8A_20m.jp2",
                    open(path, "rb").read(), zipfile.ZIP_DEFLATED)
        zf.writestr("S2B.SAFE/GRANULE/R10m/T23LLA_B04_10m.jp2",
                    b"b04-bytes", zipfile.ZIP_DEFLATED)
        zf.writestr("S2B.SAFE/filler.bin", big_filler, zipfile.ZIP_STORED)
    base = http_url.rsplit("/", 1)[0]
    # serve from the same Range server: copy into its directory
    import os
    import shutil
    served_dir = os.path.dirname(path)
    shutil.copy(zpath, os.path.join(served_dir, zpath.name))
    zuri = f"{base}/{zpath.name}"

    got = read_member_bytes(zuri, band="B8A")
    assert got == open(path, "rb").read()
    assert read_member_bytes(zuri, band="B04") == b"b04-bytes"

    # bounded transfer: tail + central dir + the one member — the 1 MB
    # stored filler must never be ranged
    with urllib.request.urlopen(zuri) as resp:
        full = len(resp.read())
    assert full > 1_000_000
    spans = []
    real_open = urllib.request.urlopen

    def counting(req, *a, **kw):
        rng = req.get_header("Range") if hasattr(req, "get_header") else None
        assert rng, "every request must be a range request"
        spans.append(rng)
        return real_open(req, *a, **kw)

    import unittest.mock as mock
    with mock.patch("urllib.request.urlopen", counting):
        assert read_member_bytes(zuri, band="B04") == b"b04-bytes"
    total_requested = 0
    for rng in spans:
        lo_hi = rng.removeprefix("bytes=")
        if lo_hi.startswith("-"):
            total_requested += int(lo_hi[1:])
        else:
            lo, hi = lo_hi.split("-")
            total_requested += int(hi) - int(lo) + 1
    assert total_requested < full - 900_000, (spans, full)


# BigTIFF (round 7) ----------------------------------------------------------

def test_bigtiff_roundtrip_window_reads(tmp_path):
    """write_cog_band(bigtiff=True) emits version-43 structure that
    CogReader auto-detects; windows and overview levels match the
    classic encoding of the same array."""
    arr = (np.arange(H * W, dtype=np.int64) * 41 % 20001 - 10000).astype("<i2")
    arr = arr.reshape(H, W)
    big = write_cog_band(arr, tile=TILE, origin=(1.0, 2.0), bigtiff=True)
    classic = write_cog_band(arr, tile=TILE, origin=(1.0, 2.0))
    assert big[:4] == b"II\x2b\x00" and classic[:4] == b"II\x2a\x00"
    pb = tmp_path / "big.tif"
    pb.write_bytes(big)
    rb = CogReader(str(pb))
    assert rb.bigtiff
    pc = tmp_path / "classic.tif"
    pc.write_bytes(classic)
    rc = CogReader(str(pc))
    assert len(rb.levels) == len(rc.levels)
    assert rb.geo == rc.geo
    for lv in range(len(rb.levels)):
        wb = rb.read_window(5, 7, 100, 90, level=lv) \
            if rb.levels[lv]["width"] > 100 else \
            rb.read_window(0, 0, rb.levels[lv]["height"],
                           rb.levels[lv]["width"], level=lv)
        wc = rc.read_window(5, 7, 100, 90, level=lv) \
            if rc.levels[lv]["width"] > 100 else \
            rc.read_window(0, 0, rc.levels[lv]["height"],
                           rc.levels[lv]["width"], level=lv)
        assert np.array_equal(wb, wc)
    assert np.array_equal(rb.read_window(100, 200, 64, 64), arr[100:164, 200:264])


def _seek_range_server(directory, counter):
    class _H(http.server.SimpleHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            path = self.translate_path(self.path)
            size = os.path.getsize(path)
            m = re.match(r"bytes=(\d+)-(\d+)?$",
                         self.headers.get("Range", "") or "")
            with open(path, "rb") as f:
                if m:
                    lo = int(m.group(1))
                    hi = min(int(m.group(2) or size - 1), size - 1)
                    f.seek(lo)
                    body = f.read(hi - lo + 1)
                    self.send_response(206)
                    self.send_header("Content-Range",
                                     f"bytes {lo}-{hi}/{size}")
                else:
                    body = f.read()
                    self.send_response(200)
            counter[0] += len(body)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    handler = lambda *a, **kw: _H(*a, directory=str(directory), **kw)
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def test_bigtiff_tiles_beyond_4gib_ranged(tmp_path):
    """The point of BigTIFF: tile offsets past the 4 GiB line a
    classic LONG cannot express. A sparse 4.5 GB file with two tiles
    at >4 GiB resolves over HTTP ranges, transferring well under 1 MB
    (same contract as the ZIP64 ranged-walk test)."""
    import struct
    import zlib

    tile = 16
    a0 = np.arange(tile * tile, dtype="<i2").reshape(tile, tile)
    a1 = (a0 * 3 + 1).astype("<i2")
    t0, t1 = zlib.compress(a0.tobytes()), zlib.compress(a1.tobytes())
    off0 = 4 * 1024 ** 3 + 512          # > 4 GiB: needs LONG8
    off1 = off0 + 0x100000

    entries = [
        (256, 4, 1, struct.pack("<I4x", 32)),          # width
        (257, 4, 1, struct.pack("<I4x", 16)),          # height
        (258, 3, 1, struct.pack("<H6x", 16)),
        (259, 3, 1, struct.pack("<H6x", 8)),
        (322, 3, 1, struct.pack("<H6x", tile)),
        (323, 3, 1, struct.pack("<H6x", tile)),
        (324, 16, 2, None),                            # offsets → ext
        (325, 16, 2, None),                            # counts → ext
        (33550, 12, 3, None),
        (33922, 12, 6, None),
    ]
    hdr = struct.pack("<2sHHHQ", b"II", 43, 8, 0, 16)
    ifd_len = 8 + len(entries) * 20 + 8
    ext = 16 + ifd_len
    ext_payloads = []
    blobs = {
        324: struct.pack("<2Q", off0, off1),
        325: struct.pack("<2Q", len(t0), len(t1)),
        33550: struct.pack("<3d", 30.0, 30.0, 0.0),
        33922: struct.pack("<6d", 0, 0, 0, 7.0, 9.0, 0),
    }
    ifd = [struct.pack("<Q", len(entries))]
    for tag, code, count, inline in entries:
        if inline is not None:
            ifd.append(struct.pack("<HHQ", tag, code, count) + inline)
        else:
            b = blobs[tag]
            ifd.append(struct.pack("<HHQQ", tag, code, count, ext))
            ext_payloads.append(b)
            ext += len(b)
    ifd.append(struct.pack("<Q", 0))

    p = tmp_path / "huge.tif"
    with open(p, "wb") as f:
        f.write(hdr + b"".join(ifd) + b"".join(ext_payloads))
        f.seek(off0)
        f.write(t0)
        f.seek(off1)
        f.write(t1)
    assert os.path.getsize(p) > 4 * 1024 ** 3

    served = [0]
    srv, base = _seek_range_server(tmp_path, served)
    try:
        r = CogReader(f"{base}/huge.tif")
        assert r.bigtiff
        assert r.geo["origin"] == (7.0, 9.0)
        got = r.read_window(0, 0, 16, 32)
        assert np.array_equal(got[:, :16], a0)
        assert np.array_equal(got[:, 16:], a1)
    finally:
        srv.shutdown()
    assert served[0] < 1 << 20, f"served {served[0]} bytes"


def test_auto_bigtiff_switch_when_offsets_overflow(tmp_path, monkeypatch):
    """write_cog_band silently upgrades to BigTIFF when the layout
    would overflow classic LONG offsets (rio_cogeo's IF_SAFER);
    exercised by lowering the ceiling instead of writing 4 GiB."""
    import cube_builder_spark.sinks.cog as cogmod

    arr = (np.arange(64 * 64, dtype=np.int64) % 1000).astype("<i2").reshape(64, 64)
    monkeypatch.setattr(cogmod, "_CLASSIC_OFFSET_MAX", 1_000)
    auto = cogmod.write_cog_band(arr, tile=64)
    assert auto[:4] == b"II\x2b\x00"          # upgraded
    monkeypatch.setattr(cogmod, "_CLASSIC_OFFSET_MAX", 0xFFFFFFFF)
    small = cogmod.write_cog_band(arr, tile=64)
    assert small[:4] == b"II\x2a\x00"         # classic when it fits
    p = tmp_path / "auto.tif"
    p.write_bytes(auto)
    r = CogReader(str(p))
    assert np.array_equal(r.read_window(0, 0, 64, 64), arr)


def _three_strip_tiff(arr, rows_per_strip: int) -> bytes:
    """A classic TIFF laid out as GDAL's default striped files are: one
    deflate strip per RowsPerStrip rows (the last one short), the
    StripOffsets/StripByteCounts arrays out of line, and the strips
    stored last-first so offsets, not file order, place them."""
    import struct
    import zlib

    h, w = arr.shape
    strips = [zlib.compress(arr[r:r + rows_per_strip].tobytes())
              for r in range(0, h, rows_per_strip)]
    n = len(strips)
    entries = [(256, 3, 1, w), (257, 3, 1, h), (258, 3, 1, 16),
               (259, 3, 1, 8), (262, 3, 1, 1), (273, 4, n, None),
               (277, 3, 1, 1), (278, 3, 1, rows_per_strip),
               (279, 4, n, None), (339, 3, 1, 2), (33550, 12, 3, None),
               (33922, 12, 6, None)]
    ext_at = 8 + 2 + len(entries) * 12 + 4
    data_at = ext_at + 8 * n + 24 + 48
    offsets, pos = [0] * n, data_at
    for i in reversed(range(n)):
        offsets[i], pos = pos, pos + len(strips[i])
    payloads = {273: struct.pack(f"<{n}I", *offsets),
                279: struct.pack(f"<{n}I", *map(len, strips)),
                33550: struct.pack("<3d", 30.0, 30.0, 0.0),
                33922: struct.pack("<6d", 0, 0, 0, 5.0, 6.0, 0)}
    ifd, ext = [struct.pack("<H", len(entries))], b""
    for tag, code, count, value in entries:
        if value is None:
            ifd.append(struct.pack("<HHII", tag, code, count,
                                   ext_at + len(ext)))
            ext += payloads[tag]
        else:
            ifd.append(struct.pack("<HHIH2x", tag, code, count, value))
    ifd.append(struct.pack("<I", 0))
    head = struct.pack("<2sHI", b"II", 42, 8) + b"".join(ifd) + ext
    assert len(head) == data_at
    return head + b"".join(reversed(strips))


def test_multi_strip_tiff(tmp_path):
    """GDAL's default layout: several strips, the last one short. Whole
    reads, windows across strip boundaries and the no-nodata geo dict
    all come back exact."""
    arr = (np.arange(13 * 7, dtype=np.int64) * 97 % 20001 - 10000) \
        .astype("<i2").reshape(13, 7)
    buf = _three_strip_tiff(arr, rows_per_strip=5)
    got = read_tiff_band(buf)
    np.testing.assert_array_equal(got["array"], arr)
    assert got["origin"] == (5.0, 6.0) and got["nodata"] is None
    p = tmp_path / "strips.tif"
    p.write_bytes(buf)
    r = CogReader(str(p))
    assert r.levels[0]["block"] == (5, 7) and len(r.levels[0]["offsets"]) == 3
    np.testing.assert_array_equal(r.read_window(3, 2, 9, 4), arr[3:12, 2:6])
    np.testing.assert_array_equal(r.read_window(10, 0, 5, 7), arr[10:])


def test_big_endian_and_unsupported_tiffs_rejected(tmp_path):
    """The reader covers little-endian int16 with no or deflate
    compression; a big-endian (MM) file or any other sample format or
    codec is a clean ValueError, through open_raster too."""
    import struct

    from cube_builder_spark.sources.raster_reader import open_raster

    arr = np.arange(24, dtype="<i2").reshape(4, 6)
    le = write_geotiff_band(arr)
    mm = b"MM\x00\x2a" + struct.pack(">I", 8) + le[8:]
    p = tmp_path / "mm.tif"
    p.write_bytes(mm)
    with pytest.raises(ValueError, match="little-endian"):
        read_tiff_band(mm)
    with pytest.raises(ValueError, match="little-endian"):
        open_raster(str(p))

    def patched(tag: int, value: int) -> bytes:
        # rewrite one inline SHORT value in the first IFD
        (n,) = struct.unpack_from("<H", le, 8)
        for i in range(n):
            at = 10 + i * 12
            if struct.unpack_from("<H", le, at)[0] == tag:
                return le[:at + 8] + struct.pack("<H", value) + le[at + 10:]
        raise AssertionError(tag)

    for tag, value in ((259, 5), (258, 8), (339, 1), (277, 3)):
        with pytest.raises(ValueError, match="unsupported"):
            read_tiff_band(patched(tag, value))


# ---------------------------------------------------------------------------
# Round-8: malformed-input fuzz for the TIFF codec (the tar/zip walks
# already have stdlib differential oracles; the codec gets the same
# adversarial treatment). Contract: ANY corruption either raises a clean
# ValueError/IndexError or — when the damage misses everything the read
# touches — returns EXACTLY the uncorrupted array. Wrong bytes, hangs
# and unbounded fetches are never an option.
# ---------------------------------------------------------------------------

def _fuzz_base(layout: str):
    arr = (np.arange(96 * 64, dtype=np.int64) * 13 % 20001 - 10000) \
        .astype("<i2").reshape(96, 64)
    geo = dict(pixel_size=(10.0, 10.0), origin=(1.0, 2.0), nodata=-9999)
    if layout == "striped":
        return arr, write_geotiff_band(arr, **geo)
    return arr, write_cog_band(arr, tile=32, bigtiff=layout == "bigtiff",
                               **geo)


_FUZZ_BASES = {k: _fuzz_base(k) for k in ("classic", "bigtiff", "striped")}


def _read_all(path: str, arr):
    r = CogReader(str(path))
    return r.read_window(0, 0, arr.shape[0], arr.shape[1])


def test_version_field_confusion_rejected(tmp_path):
    """Rewriting the version word (42<->43) must not mis-parse with the
    wrong offset widths: classic-as-BigTIFF fails the offset-size probe,
    BigTIFF-as-classic hits structural nonsense — both clean errors."""
    for layout, (arr, buf) in _FUZZ_BASES.items():
        if layout == "bigtiff":
            # claim classic: II*\0 + classic expects 4-byte IFD offset
            forged = buf[:2] + b"\x2a\x00" + buf[4:]
        else:
            # claim BigTIFF: II+\0 then (offset-size, pad) read from
            # what is really the classic IFD offset field
            forged = buf[:2] + b"\x2b\x00" + buf[4:]
        p = tmp_path / f"forged_{layout}.tif"
        p.write_bytes(forged)
        with pytest.raises((ValueError, IndexError)):
            _read_all(p, arr)


def test_truncation_ladder_never_wrong(tmp_path):
    """Deterministic truncation sweep at byte resolution near the
    structure and coarse steps through the payload: every prefix either
    errors cleanly or reproduces the exact array."""
    for layout, (arr, buf) in _FUZZ_BASES.items():
        cuts = list(range(0, 400, 7)) + list(range(400, len(buf), 997))
        for cut in cuts:
            p = tmp_path / "t.tif"
            p.write_bytes(buf[:cut])
            try:
                got = _read_all(p, arr)
            except (ValueError, IndexError):
                continue
            assert np.array_equal(got, arr), \
                f"truncation at {cut} ({layout}) gave a wrong array"


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=120, deadline=None)
    @given(
        layout=st.sampled_from(sorted(_FUZZ_BASES)),
        mode=st.sampled_from(["flip", "truncate", "zero_run"]),
        pos=st.floats(0.0, 1.0),
        val=st.integers(0, 255),
        runlen=st.integers(1, 64),
    )
    def test_cog_corruption_fuzz(layout, mode, pos, val, runlen):
        """Property: an arbitrary single-byte flip, truncation, or
        zeroed run anywhere in a classic/BigTIFF COG or a striped
        GeoTIFF yields either a clean ValueError/IndexError or the
        exact original array (the
        zlib adler32 makes payload damage detectable; structure damage
        is caught by the bounds/cycle/tag guards)."""
        import tempfile

        arr, buf = _FUZZ_BASES[layout]
        i = min(int(pos * len(buf)), len(buf) - 1)
        if mode == "flip":
            if buf[i] == val:
                val ^= 0xFF
            mutated = buf[:i] + bytes([val]) + buf[i + 1:]
        elif mode == "truncate":
            mutated = buf[:i]
        else:
            mutated = buf[:i] + b"\x00" * min(runlen, len(buf) - i) \
                + buf[i + min(runlen, len(buf) - i):]
        with tempfile.NamedTemporaryFile(suffix=".tif") as f:
            f.write(mutated)
            f.flush()
            try:
                got = _read_all(f.name, arr)
            except (ValueError, IndexError):
                return
            assert np.array_equal(got, arr), \
                f"corruption ({mode} @ {i}) gave a wrong array silently"
except ImportError:  # pragma: no cover
    pass
