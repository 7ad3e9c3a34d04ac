"""The program's one TIFF reader, stdlib only (S5).

``CogReader`` parses every TIFF the engine reads: striped scene files
from ``sinks/cog.write_geotiff_band``, tiled COGs with overview
pyramids from ``write_cog_band``, classic TIFF and BigTIFF. Bytes come
through a fetcher: ``RangeFetcher`` for local paths, file:// and
http(s):// URIs, ``BytesFetcher`` for buffers already in memory
(binaryFile content, archive members). ``read_tiff_band`` is the
whole-band decode the ingest path uses. Only little-endian,
single-band int16 files with no or deflate compression are read;
anything else raises ``ValueError``.

Reference: GDAL ``/vsicurl`` access with ``GDAL_DISABLE_READDIR_ON_OPEN``
and HTTP range reads (``config.py:85-88``,
``drivers/datasets/__init__.py:78-83``): open a remote COG, read its
header/IFDs cheaply, then fetch only the block byte-ranges a requested
window intersects.

Layout contract (what makes the range pattern work, and what
``write_cog_band`` produces): IFDs lead the file, tile data trails,
overviews' data precede full-res data — so header + overview reads
touch only the file's head. The reader reports both facts.

Executor use: the fetcher is plain Python/urllib, so a pandas-UDF
reader can window remote COGs per task exactly like the reference's
one-Celery-task-per-asset rasterio reads, with bounded bytes per task.
"""

from __future__ import annotations

import struct
import urllib.request
import zlib

import numpy as np

_BLOCK = 16 * 1024

# TIFF field type code -> (bytes per value, struct format); ASCII (2)
# is decoded as text
_FIELD_TYPES = {2: (1, None), 3: (2, "H"), 4: (4, "I"), 12: (8, "d"),
                16: (8, "Q")}
_UINT, _DOUBLE, _ASCII = (3, 4, 16), (12,), (2,)


class BytesFetcher:
    """RangeFetcher interface over an in-memory buffer — lets
    CogReader parse binaryFile content and archive-member bytes (and
    the tar walk resolve members) without spooling to disk."""

    def __init__(self, data: bytes):
        self._d = data
        self.bytes_fetched = 0
        self.n_requests = 0

    def size(self) -> int:
        return len(self._d)

    def get(self, start: int, length: int) -> bytes:
        self.n_requests += 1
        self.bytes_fetched += length
        return self._d[start:start + length]


class RangeFetcher:
    """Byte-range access over file paths, file:// and http(s):// URIs
    with a block cache (16 KB blocks, contiguous misses coalesced into
    one request). ``bytes_fetched``/``n_requests`` expose the I/O
    actually performed so tests can assert windows don't read the whole
    file."""

    def __init__(self, uri: str, block: int = _BLOCK):
        self.uri = uri
        self.block = block
        self._remote = uri.startswith(("http://", "https://"))
        self._path = uri.removeprefix("file://") if not self._remote else None
        self._blocks: dict[int, bytes] = {}
        self._full: bytes | None = None      # server ignored Range
        self._size: int | None = None
        self.bytes_fetched = 0
        self.n_requests = 0

    def size(self) -> int:
        """Total object size. Local: one stat. Remote: a 1-byte range
        probe whose Content-Range carries the total — and if the
        server ignores Range (200), the full body is kept so no
        further requests happen (same fallback as ``get``)."""
        if self._size is not None:
            return self._size
        if self._full is not None:
            self._size = len(self._full)
        elif not self._remote:
            import os
            self._size = os.path.getsize(self._path)
        else:
            req = urllib.request.Request(self.uri,
                                         headers={"Range": "bytes=0-0"})
            self.n_requests += 1
            with urllib.request.urlopen(req) as resp:
                body = resp.read()
                self.bytes_fetched += len(body)
                if resp.status == 206:
                    self._size = int(
                        resp.headers["Content-Range"].rsplit("/", 1)[1])
                else:
                    self._full = body
                    self._size = len(body)
        return self._size

    def _fetch_raw(self, start: int, length: int) -> bytes:
        self.n_requests += 1
        if not self._remote:
            with open(self._path, "rb") as f:
                f.seek(start)
                data = f.read(length)
            self.bytes_fetched += len(data)
            return data
        req = urllib.request.Request(
            self.uri, headers={"Range": f"bytes={start}-{start + length - 1}"})
        with urllib.request.urlopen(req) as resp:
            body = resp.read()
            self.bytes_fetched += len(body)
            if resp.status == 206:
                return body
            # 200: server ignored Range and sent the whole file — keep
            # it so no further requests are needed
            self._full = body
            return body[start:start + length]

    def get(self, start: int, length: int) -> bytes:
        if length <= 0:
            return b""
        # bound every range against the object size: a corrupt offset
        # must raise cleanly, not OSError a local seek or drive an
        # unbounded remote fetch (fuzz-found, round 8). Short tails
        # (start+length past EOF) clamp — the parse layer detects the
        # short read; a start AT/past EOF can never be a valid range.
        # Local stat is free; a remote size is only used once known
        # (206 Content-Range / 200 full body) so no extra probe request
        # is spent on the happy path.
        if (not self._remote or self._size is not None
                or self._full is not None):
            total = self.size()
            if start < 0 or start >= total:
                raise ValueError(
                    f"range start {start} outside object of {total} bytes")
            length = min(length, total - start)
        elif start < 0:
            raise ValueError(f"negative range start {start}")
        if self._full is not None:
            return self._full[start:start + length]
        blk = self.block
        b0, b1 = start // blk, (start + length - 1) // blk
        missing = [b for b in range(b0, b1 + 1) if b not in self._blocks]
        # coalesce contiguous missing blocks into single range requests
        i = 0
        while i < len(missing):
            j = i
            while j + 1 < len(missing) and missing[j + 1] == missing[j] + 1:
                j += 1
            lo, hi = missing[i], missing[j]
            data = self._fetch_raw(lo * blk, (hi - lo + 1) * blk)
            if self._full is not None:
                return self._full[start:start + length]
            for b in range(lo, hi + 1):
                off = (b - lo) * blk
                self._blocks[b] = data[off:off + blk]
            i = j + 1
        out = b"".join(self._blocks[b] for b in range(b0, b1 + 1))
        skip = start - b0 * blk
        return out[skip:skip + length]


class CogReader:
    """Lazy TIFF: parses the IFD chain from ranged reads at open; block
    payloads are fetched only when a window asks for them.

    Each level (IFD) is a grid of blocks: ``block`` is the (rows, cols)
    of a tile, or (RowsPerStrip, image width) for a striped file, whose
    last strip may be short. ``header_end`` is the end of the furthest
    structural read (IFDs and their tag payloads), from which the COG
    layout facts ``ifds_lead_data`` and ``overview_data_first`` follow."""

    def __init__(self, uri: str,
                 fetcher: RangeFetcher | BytesFetcher | None = None):
        self.fetcher = fetcher or RangeFetcher(uri)
        self.levels: list[dict] = []
        self.geo: dict = {}
        self.header_end = 0
        # corrupt-input posture (differential-fuzz hardened): every
        # malformed or unsupported header/IFD must surface as a clean
        # ValueError — never a hang (IFD cycle), a multi-GB fetch
        # (bogus count), an OSError'd seek (bogus offset), or a silent
        # wrong array. struct/KeyError/unicode failures from flipped
        # bytes are normalized below.
        try:
            self._parse_header(uri)
        except (struct.error, KeyError, IndexError, UnicodeDecodeError,
                OverflowError, MemoryError) as e:
            raise ValueError(f"corrupt TIFF structure: {e!r}") from e
        if not self.levels:
            raise ValueError("corrupt TIFF: empty IFD chain")

    def _get(self, start: int, length: int) -> bytes:
        self.header_end = max(self.header_end, start + length)
        return self.fetcher.get(start, length)

    def _parse_header(self, uri: str):
        get = self._get
        magic = get(0, 4)
        if magic == b"II\x2a\x00":                 # classic TIFF (42)
            big = False
            (ifd_off,) = struct.unpack("<I", get(4, 4))
        elif magic == b"II\x2b\x00":               # BigTIFF (43)
            # >4 GiB rasters: 8-byte offsets/counts, 20-byte IFD
            # entries — the format a 100 TB mosaic level actually
            # ships in (the ZIP64 of the TIFF world)
            big = True
            osize, pad = struct.unpack("<HH", get(4, 4))
            if osize != 8 or pad != 0:
                raise ValueError(
                    f"unsupported BigTIFF offset size {osize}: {uri!r}")
            (ifd_off,) = struct.unpack("<Q", get(8, 8))
        else:
            raise ValueError(f"not a little-endian TIFF: {uri!r}")
        self.bigtiff = big
        # structural widths: count field, entry, entry format, inline
        # value bytes, offset format
        n_len, e_len, e_fmt, inline, off_fmt = (
            (8, 20, "<HHQ8s", 8, "<Q") if big else
            (2, 12, "<HHI4s", 4, "<I"))
        seen = set()
        while ifd_off:
            if ifd_off in seen or len(seen) > 64:
                # a cycle (or absurd chain length) in the next-IFD
                # pointers would loop forever on corrupt input
                raise ValueError(
                    f"corrupt IFD chain: cycle or >64 IFDs at {ifd_off}")
            seen.add(ifd_off)
            (n,) = struct.unpack("<Q" if big else "<H", get(ifd_off, n_len))
            # classic TIFF bounds n at 65535 by its 16-bit count field;
            # BigTIFF's 64-bit count would let a corrupt/truncated file
            # drive a multi-GB ranged fetch here. No real IFD carries
            # more than a few dozen tags — cap at the classic limit.
            if n > 0xFFFF:
                raise ValueError(
                    f"corrupt IFD at {ifd_off}: implausible entry "
                    f"count {n}")
            raw_entries = get(ifd_off + n_len, n * e_len)
            tags = {}
            for i in range(n):
                t, code, count, raw = struct.unpack_from(
                    e_fmt, raw_entries, i * e_len)
                tags[t] = (code, count, raw)
            self._add_level(tags, inline, off_fmt)
            (ifd_off,) = struct.unpack(
                off_fmt, get(ifd_off + n_len + n * e_len, inline))

    def _add_level(self, tags: dict, inline: int, off_fmt: str):
        def vals(t, codes=_UINT):
            if t not in tags:
                raise ValueError(f"corrupt TIFF: missing tag {t}")
            code, count, raw = tags[t]
            if code not in codes:
                raise ValueError(f"corrupt TIFF: tag {t} has type {code}")
            esize, fmt = _FIELD_TYPES[code]
            size = esize * count
            # a corrupt count field must not drive an unbounded
            # fetch/allocation — no tag payload can exceed the file
            if count == 0 or size > self.fetcher.size():
                raise ValueError(
                    f"corrupt TIFF: tag {t} holds {count} values")
            if size <= inline:
                payload = raw[:size]
            else:
                payload = self._get(struct.unpack_from(off_fmt, raw)[0],
                                    size)
            if code == 2:
                return payload.rstrip(b"\x00").decode()
            return struct.unpack(f"<{count}{fmt}", payload)

        def val(t, default=None):
            return default if t not in tags and default is not None \
                else vals(t)[0]

        w, h = val(256), val(257)
        compression = val(259, 1)
        if compression not in (1, 8):
            raise ValueError(f"unsupported TIFF compression {compression}")
        if (val(258, 1) != 16 or val(339, 2) != 2 or val(277, 1) != 1
                or val(317, 1) != 1):
            raise ValueError("unsupported TIFF samples: only single-band "
                             "int16 without predictor is read")
        tiled = 322 in tags
        if tiled:
            block = (val(323), val(322))
            offs, cnts = vals(324), vals(325)
        else:
            block = (min(val(278, h), h), w)
            offs, cnts = vals(273), vals(279)
        if min(w, h, *block) <= 0:
            raise ValueError(f"corrupt TIFF: empty image or block "
                             f"{(h, w)}/{block}")
        n_blocks = -(-h // block[0]) * -(-w // block[1])
        if len(offs) != n_blocks or len(cnts) != n_blocks:
            raise ValueError(f"corrupt TIFF: {len(offs)} offsets and "
                             f"{len(cnts)} counts for {n_blocks} blocks")
        self.levels.append({
            "width": w, "height": h, "block": block, "tiled": tiled,
            "compression": compression, "offsets": offs, "counts": cnts,
            "subfile_type": val(254, 0)})
        if len(self.levels) == 1:
            scale, tie = vals(33550, _DOUBLE), vals(33922, _DOUBLE)
            self.geo = {"pixel_size": (scale[0], scale[1]),
                        "origin": (tie[3], tie[4]),
                        "nodata": (int(vals(42113, _ASCII))
                                   if 42113 in tags else None)}

    @property
    def ifds_lead_data(self) -> bool:
        """Every IFD and tag payload precedes all block data, so one
        read of the file's head gets the whole structure."""
        return self.header_end <= min(min(lv["offsets"])
                                      for lv in self.levels)

    @property
    def overview_data_first(self) -> bool:
        """The smallest overview's data precedes full-resolution data."""
        return (len(self.levels) < 2 or min(self.levels[-1]["offsets"])
                < min(self.levels[0]["offsets"]))

    def read_window(self, row0: int, col0: int, height: int, width: int,
                    level: int = 0) -> np.ndarray:
        """Decode exactly the blocks intersecting the window at the
        given pyramid level; bytes fetched ≈ the window's compressed
        blocks."""
        lv = self.levels[level]
        (bh, bw), w, h = lv["block"], lv["width"], lv["height"]
        row1 = min(row0 + height, h)
        col1 = min(col0 + width, w)
        if row0 < 0 or col0 < 0 or row0 >= h or col0 >= w:
            raise IndexError(f"window ({row0},{col0})+({height},{width}) "
                             f"outside level {level} shape ({h},{w})")
        across = -(-w // bw)
        out = np.zeros((row1 - row0, col1 - col0), "<i2")
        for br in range(row0 // bh, (row1 - 1) // bh + 1):
            # tiles are padded to the full block; a last strip is short
            rows = bh if lv["tiled"] else min(bh, h - br * bh)
            for bc in range(col0 // bw, (col1 - 1) // bw + 1):
                i = br * across + bc
                payload = self.fetcher.get(lv["offsets"][i], lv["counts"][i])
                try:
                    if lv["compression"] == 8:
                        payload = zlib.decompress(payload)
                    block = np.frombuffer(payload, "<i2").reshape(rows, bw)
                except (zlib.error, ValueError) as e:
                    # truncated/undersized block payload: clean error,
                    # never a partially-wrong array
                    raise ValueError(
                        f"corrupt block payload at index {i} "
                        f"(level {level}): {e}") from e
                # intersection of this block with the window
                r_lo, r_hi = max(row0, br * bh), min(row1, br * bh + rows)
                c_lo, c_hi = max(col0, bc * bw), min(col1, (bc + 1) * bw)
                out[r_lo - row0:r_hi - row0, c_lo - col0:c_hi - col0] = \
                    block[r_lo - br * bh:r_hi - br * bh,
                          c_lo - bc * bw:c_hi - bc * bw]
        return out

    def read_level(self, level: int = 0) -> np.ndarray:
        """The whole image at one pyramid level."""
        lv = self.levels[level]
        return self.read_window(0, 0, lv["height"], lv["width"], level)


def read_tiff_band(data: bytes) -> dict:
    """Decode an in-memory single-band TIFF (striped scene, tiled COG,
    classic or BigTIFF) into the {array, origin, pixel_size, nodata}
    dict the ingest operators consume."""
    r = CogReader("<bytes>", fetcher=BytesFetcher(data))
    return {"array": r.read_level(), **r.geo}


def read_cog_window(uri: str, row0: int, col0: int, height: int, width: int,
                    level: int = 0) -> np.ndarray:
    """One-shot convenience: open + window in a single fetcher."""
    return CogReader(uri).read_window(row0, col0, height, width, level)
