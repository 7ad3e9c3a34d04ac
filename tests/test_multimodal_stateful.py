"""Multimodal binary-column plumbing + stateful-streaming sessionizer."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cube_builder_spark.functions import multimodal
from cube_builder_spark.tables import load_tables, local_df


def _docs(spark, sf_dir):
    return load_tables(spark, sf_dir, ["documents"])["documents"]


def test_media_metadata_parses_real_bytes(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    media = multimodal.attach_fake_media(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    meta = multimodal.media_metadata(media)
    joined = (meta.join(docs.select("doc_id", "n_chars"), "doc_id")
              .withColumn("expect_w", (100 + F.col("n_chars") % 640).cast("int"))
              .withColumn("expect_h", (100 + (F.col("n_chars") * 7) % 480).cast("int")))
    bad = joined.filter((F.col("width") != F.col("expect_w"))
                        | (F.col("height") != F.col("expect_h"))
                        | (F.col("n_bytes") < F.col("n_chars") + 12)).count()
    assert bad == 0
    # digest column is a real md5 over the payload bytes
    row = meta.select("sha").first()
    assert len(row.sha) == 32


def test_frame_sample_stays_metadata_only(spark, sf_dir):
    media = multimodal.attach_fake_media(_docs(spark, sf_dir))
    frames = multimodal.frame_sample(media, every_n=1)
    agg = (frames.groupBy("doc_id", "n_frames")
           .agg(F.count(F.lit(1)).alias("n"), F.max("frame_idx").alias("mx")))
    bad = agg.filter((F.col("n") != F.col("n_frames"))
                     | (F.col("mx") != F.col("n_frames") - 1)).count()
    assert bad == 0


def test_bmp_codec_roundtrip():
    import numpy as np
    pix = multimodal.image_pixels(doc_id=42, w=7, h=5)
    buf = multimodal.encode_bmp(pix)
    assert buf[:2] == b"BM"
    back = multimodal.decode_bmp(buf)
    assert np.array_equal(back, pix)
    # odd width exercises row padding
    pix2 = multimodal.image_pixels(doc_id=3, w=5, h=3)
    assert np.array_equal(multimodal.decode_bmp(multimodal.encode_bmp(pix2)),
                          pix2)


def test_wav_codec_roundtrip():
    import numpy as np
    s = multimodal.audio_samples(doc_id=7, n=123)
    rate, back = multimodal.decode_wav(multimodal.encode_wav(s, 8000))
    assert rate == 8000 and np.array_equal(back, s)


def test_real_decode_and_resample(spark, sf_dir):
    media = multimodal.attach_real_media(_docs(spark, sf_dir))
    import numpy as np
    img = multimodal.decode_image(media).collect()
    assert img, "image docs exist"
    for r in img:
        pix = multimodal.image_pixels(r.doc_id, r.width, r.height)
        assert r.px_sum == int(pix.astype(np.int64).sum())
    res = multimodal.resample_audio(media, rate_hz=12000).collect()
    assert res, "audio docs exist"
    for r in res:
        assert r.n_out == (r.n_in * 12000) // 8000
    vid = multimodal.decode_video(media).collect()
    assert vid, "video docs exist"
    for r in vid:
        pix = multimodal.video_pixels(r.doc_id, r.n_frames, r.width, r.height)
        assert r.px_sum == int(pix.astype(np.int64).sum())
        assert r.fps == multimodal.video_fps(r.doc_id)


def test_avi_codec_roundtrip():
    import numpy as np
    frames = multimodal.video_pixels(doc_id=11, n_frames=3, w=5, h=4)
    buf = multimodal.encode_avi(frames, fps=17)
    assert buf[:4] == b"RIFF" and buf[8:12] == b"AVI "
    fps, back = multimodal.decode_avi(buf)
    assert fps == 17 and np.array_equal(back, frames)
    # even width (no row padding) round-trips too
    frames2 = multimodal.video_pixels(doc_id=2, n_frames=1, w=4, h=3)
    fps2, back2 = multimodal.decode_avi(multimodal.encode_avi(frames2, 30))
    assert fps2 == 30 and np.array_equal(back2, frames2)


def test_stateful_sessionizer_closed_sessions(spark, tmp_path):
    """Drive a 2-batch file stream through applyInPandasWithState:
    sessions separated by >30 min close and emit exactly once."""
    import datetime

    from cube_builder_spark.streaming.events import EVENT_SCHEMA
    from cube_builder_spark.streaming.stateful import sessionize_stream

    t0 = datetime.datetime(2020, 1, 1, 8, 0, 0)

    def ev(minutes, user, value, eid):
        # local_df reads a naive datetime as UTC; collect() returns host
        # local ones, so pass the aware instant the naive one stands for
        ts = t0 + datetime.timedelta(minutes=minutes)
        return (eid, ts.astimezone(datetime.timezone.utc), user, "click",
                value, "{}")

    rows = [
        # user 1: session A (two events), 90-min gap, session B
        ev(0, 1, 1.0, 1), ev(10, 1, 2.5, 2), ev(100, 1, 4.0, 3),
        # user 2: one long session, never closes within the data
        ev(0, 2, 1.0, 4), ev(20, 2, 1.0, 5), ev(40, 2, 1.0, 6),
    ]
    src = str(tmp_path / "stream_src")
    local_df(spark, rows, "event_id long, ts timestamp, user_id long, "
             "event_type string, value double, props string").write.parquet(src)
    out = sessionize_stream(spark.readStream.schema(EVENT_SCHEMA).parquet(src))
    q = (out.writeStream.outputMode("append")
         .format("memory").queryName("sessions").start())
    q.processAllAvailable()
    q.stop()
    got = {(r.user_id): r for r in spark.sql("SELECT * FROM sessions").collect()}
    # user 1's first session closed (the 100-min event breached the gap)
    assert 1 in got
    s = got[1]
    assert (s.n_events, s.total_value_cents) == (2, 350)
    assert s.session_start == t0 and s.session_end == t0 + datetime.timedelta(minutes=10)
    # user 2's session never closed -> not emitted in append mode
    assert 2 not in got


def test_stateful_streaming_dedup(spark, tmp_path):
    """Two micro-batches through the stateful dedup: the canonical
    survives across batches, later duplicates are attributed to it."""
    from cube_builder_spark.streaming.dedup_stream import dedup_stream

    schema = "doc_id long, text string"
    src = str(tmp_path / "docs_stream")
    # batch 1: doc 10 and 11 identical, 12 unique
    local_df(
        spark, [(11, "aaa bbb"), (10, "aaa bbb"), (12, "ccc")], schema
    ).write.parquet(src + "/b1")
    out = dedup_stream(spark.readStream.schema(schema).parquet(src + "/*"))
    q = (out.writeStream.outputMode("append")
         .format("memory").queryName("dedup_led").start())
    q.processAllAvailable()
    # batch 2: doc 20 duplicates batch-1 content, 21 unique
    local_df(
        spark, [(20, "aaa bbb"), (21, "ddd")], schema).write.parquet(src + "/b2")
    q.processAllAvailable()
    q.stop()
    led = {r.doc_id: r for r in
           spark.sql("SELECT * FROM dedup_led").collect()}
    assert len(led) == 5
    # canonical = lowest doc_id of the FIRST batch the hash appeared in
    assert led[10].is_canonical and led[10].canonical_id == 10
    assert not led[11].is_canonical and led[11].canonical_id == 10
    assert led[11].n_seen_before == 1
    # cross-batch: doc 20 attributed to batch-1's canonical
    assert not led[20].is_canonical and led[20].canonical_id == 10
    assert led[20].n_seen_before == 2
    assert led[12].is_canonical and led[21].is_canonical


# ---------------------------------------------------------------------------
# Round-8: corruption fuzz for the hand-written media codecs (same
# adversarial treatment as the tar/zip walks and the TIFF codec).
# Contract: any flip/truncation/zeroed-run either raises a clean
# ValueError/NotImplementedError/IndexError or — when the damage misses
# everything the decode touches — returns the exact original payload.
# ---------------------------------------------------------------------------

def _media_bases():
    pix = multimodal.image_pixels(7, 13, 9)
    bmp = multimodal.encode_bmp(pix)
    samples = np.arange(-300, 300, 7, dtype=np.int16)
    wav = multimodal.encode_wav(samples, 8000)
    frames = np.stack([multimodal.image_pixels(i, 12, 6) for i in range(3)])
    avi = multimodal.encode_avi(frames, 25)
    return {
        "bmp": (bmp, lambda b: multimodal.decode_bmp(b),
                lambda got: np.array_equal(got, pix)),
        "wav": (wav, lambda b: multimodal.decode_wav(b),
                lambda got: got[0] == 8000 and np.array_equal(got[1],
                                                              samples)),
        "avi": (avi, lambda b: multimodal.decode_avi(b),
                lambda got: got[0] == 25 and np.array_equal(got[1],
                                                            frames)),
    }


_MEDIA = _media_bases()
_OK_ERRORS = (ValueError, NotImplementedError, IndexError)


def test_media_truncation_ladder_never_wrong():
    for kind, (buf, dec, same) in _MEDIA.items():
        for cut in range(0, len(buf), 13):
            try:
                got = dec(buf[:cut])
            except _OK_ERRORS:
                continue
            # WAV nframes comes from the header; a truncated data
            # chunk legitimately decodes to fewer samples via the
            # stdlib reader — shorter-prefix results are acceptable
            # for wav, never for the image codecs
            if kind == "wav":
                continue
            assert same(got), f"{kind} truncated at {cut}: wrong data"


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(kind=st.sampled_from(["bmp", "wav", "avi"]),
           mode=st.sampled_from(["flip", "zero_run"]),
           pos=st.floats(0.0, 1.0), val=st.integers(0, 255),
           runlen=st.integers(1, 32))
    def test_media_corruption_fuzz(kind, mode, pos, val, runlen):
        buf, dec, same = _MEDIA[kind]
        i = min(int(pos * len(buf)), len(buf) - 1)
        if mode == "flip":
            if buf[i] == val:
                val ^= 0xFF
            mutated = buf[:i] + bytes([val]) + buf[i + 1:]
        else:
            n = min(runlen, len(buf) - i)
            mutated = buf[:i] + b"\x00" * n + buf[i + n:]
        try:
            got = dec(mutated)
        except _OK_ERRORS:
            return
        if kind == "bmp":
            # pixel-region damage decodes to a changed image — that is
            # inherent to a checksum-less format; structure damage must
            # never mis-shape the array
            assert got.shape == (9, 13, 3)
        elif kind == "wav":
            rate, data = got
            assert data.dtype == np.int16
        else:
            fps, frames = got
            assert frames.shape[1:] == (6, 12, 3)
except ImportError:  # pragma: no cover
    pass


# image dHash -----------------------------------------------------------------

def _ref_dhash(pix: np.ndarray) -> tuple[int, int]:
    """Independent reference dHash (loop form, no vectorization)."""
    h, w = pix.shape[:2]
    gray = [[(299 * int(pix[y][x][0]) + 587 * int(pix[y][x][1])
              + 114 * int(pix[y][x][2])) // 1000
             for x in range(w)] for y in range(h)]
    g = [[gray[(r * h) // 8][(c * w) // 9] for c in range(9)]
         for r in range(8)]
    h0 = h1 = 0
    for r in range(8):
        for c in range(8):
            bit = 1 if g[r][c + 1] > g[r][c] else 0
            if r < 4:
                h0 |= bit << (r * 8 + c)
            else:
                h1 |= bit << ((r - 4) * 8 + c)
    return h0, h1


def test_image_dhash_matches_reference(spark):
    """image_dhash over real encoded BMP payloads equals a loop-form
    reference implementation on the decoded pixels."""
    rng = np.random.default_rng(11)
    rows, want = [], {}
    for doc_id in range(8):
        w, h = int(rng.integers(4, 17)), int(rng.integers(3, 11))
        pix = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        rows.append((doc_id, "image/bmp", multimodal.encode_bmp(pix)))
        want[doc_id] = _ref_dhash(pix)
    rows.append((99, "audio/wav", b"not an image"))   # skipped
    media = local_df(
        spark, rows, "doc_id long, media_type string, payload binary")
    got = {r.doc_id: (r.h0, r.h1)
           for r in multimodal.image_dhash(media).collect()}
    assert got == want
    assert all(0 <= v < 2 ** 32 for pair in got.values() for v in pair)


def test_dhash_dup_pairs_lossless_banding(spark):
    """The 8-byte-band bucket join must return EXACTLY the brute-force
    hamming<=6 pair set (pigeonhole guarantees no misses; the verify
    removes band-collision false positives)."""
    rng = np.random.default_rng(5)
    base = int(rng.integers(0, 2 ** 32)), int(rng.integers(0, 2 ** 32))
    hashes = []
    for i in range(40):
        h0, h1 = base
        # flip a random number of bits so distances spread 0..64
        for _ in range(int(rng.integers(0, 20))):
            half = int(rng.integers(0, 2))
            bit = 1 << int(rng.integers(0, 32))
            if half == 0:
                h0 ^= bit
            else:
                h1 ^= bit
        hashes.append((i, h0, h1))
    want = set()
    for i, (ia, a0, a1) in enumerate(hashes):
        for ib, b0, b1 in hashes[i + 1:]:
            ham = bin((a0 ^ b0)).count("1") + bin((a1 ^ b1)).count("1")
            if ham <= 6:
                want.add((ia, ib, ham))
    df = local_df(spark, hashes, "doc_id long, h0 long, h1 long")
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in multimodal.dhash_dup_pairs(df, max_hamming=6).collect()}
    assert got == want and len(want) > 0
    with pytest.raises(ValueError):
        multimodal.dhash_dup_pairs(df, max_hamming=8)


# audio fingerprint ------------------------------------------------------------

def _ref_audio_fp(samples) -> tuple[int, int]:
    """Independent reference fingerprint (loop form)."""
    nf = len(samples) // multimodal.AUDIO_FP_FRAME
    es = []
    for f in range(nf):
        e = 0
        for j in range(multimodal.AUDIO_FP_FRAME):
            s = int(samples[f * multimodal.AUDIO_FP_FRAME + j])
            e += s * s
        es.append(e)
    fp = 0
    for f in range(1, nf):
        if es[f] > es[f - 1]:
            fp |= 1 << (f - 1)
    return fp, nf - 1


def test_audio_fingerprint_matches_reference(spark):
    """audio_fingerprint over real encoded WAV payloads equals a
    loop-form reference on the raw samples; sub-2-frame docs and
    non-audio rows are skipped."""
    rng = np.random.default_rng(7)
    rows, want = [], {}
    for doc_id in range(8):
        n = int(rng.integers(25, 150))
        samples = rng.integers(-1000, 1001, n).astype(np.int16)
        rows.append((doc_id, "audio/wav",
                     multimodal.encode_wav(samples, multimodal.AUDIO_SRC_RATE)))
        fp, nb = _ref_audio_fp(samples)
        if nb >= 1:
            want[doc_id] = (fp, nb)
    rows.append((90, "audio/wav",
                 multimodal.encode_wav(np.zeros(7, np.int16),
                                       multimodal.AUDIO_SRC_RATE)))  # <2 frames
    rows.append((99, "image/bmp", b"not audio"))                     # skipped
    media = local_df(
        spark, rows, "doc_id long, media_type string, payload binary")
    got = {r.doc_id: (r.fp, r.nb)
           for r in multimodal.audio_fingerprint(media).collect()}
    assert got == want and len(want) > 0


def test_audio_dup_pairs_lossless_banding(spark):
    """The two-band bucket join must return EXACTLY the brute-force
    hamming<=1 pair set among equal-length fingerprints."""
    rng = np.random.default_rng(3)
    fps = []
    for i in range(60):
        nb = int(rng.integers(4, 14))
        base = int(rng.integers(0, 2)) * ((1 << nb) - 1) // 3
        fp = base ^ (1 << int(rng.integers(0, nb)) if rng.integers(0, 2)
                     else 0)
        fps.append((i, fp & ((1 << nb) - 1), nb))
    want = set()
    for i, (ia, fa, na) in enumerate(fps):
        for ib, fb, nb2 in fps[i + 1:]:
            if na == nb2 and bin(fa ^ fb).count("1") <= 1:
                want.add((ia, ib, bin(fa ^ fb).count("1")))
    df = local_df(spark, fps, "doc_id long, fp long, nb int")
    got = {(r.doc_a, r.doc_b, r.hamming)
           for r in multimodal.audio_dup_pairs(df, max_hamming=1).collect()}
    assert got == want and len(want) > 0
    with pytest.raises(ValueError):
        multimodal.audio_dup_pairs(df, max_hamming=2)


# degenerate-media corpus (round-9 punch items #3/#6) -------------------------

def test_dhash_bucket_cap_bounds_degenerate_buckets(spark):
    """1,000 constant-color images all hash to the SAME dHash (every
    horizontal gradient is 0), so every band bucket is degenerate with
    1,000 members. With the cap BELOW the bucket size the join returns
    zero pairs (the cap surfaces — pairs inside the degenerate bucket
    are sacrificed, the documented LSH trade) while distinct non-
    degenerate near-pairs elsewhere still come through; with the
    default cap (10k > 1k) the full O(n²) pair set appears. The cap
    filter runs count-over-window BEFORE collect_list, so no
    aggregation buffer ever holds the 1,000-member array."""
    # real encode->decode for a few, to pin "constant color => equal
    # hashes => one bucket": the degenerate plane is then extended
    # columnar-side (1k hash rows), which exercises the identical join
    pix = np.full((6, 9, 3), 200, np.uint8)
    media = local_df(
        spark, [(i, "image/bmp", multimodal.encode_bmp(pix)) for i in range(3)],
        "doc_id long, media_type string, payload binary")
    hs = multimodal.image_dhash(media).collect()
    assert len({(r.h0, r.h1) for r in hs}) == 1
    h0, h1 = hs[0].h0, hs[0].h1
    rows = [(i, h0, h1) for i in range(1000)]
    # two near-duplicates far from the constant cluster (flip high bits
    # so they share no band byte with the degenerate cluster)
    a0 = h0 ^ 0xAAAAAAAA
    rows += [(2000, a0, h1 ^ 0x55555555), (2001, a0 ^ 1, h1 ^ 0x55555555)]
    df = local_df(spark, rows, "doc_id long, h0 long, h1 long")
    capped = multimodal.dhash_dup_pairs(df, max_hamming=6, max_bucket=500)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert got == {(2000, 2001)}          # cap tripped, outsiders intact
    full = multimodal.dhash_dup_pairs(df, max_hamming=6)  # default 10k
    assert full.count() == 1000 * 999 // 2 + 1


def test_audio_bucket_cap_bounds_silent_clips(spark):
    """1,000 silent clips fingerprint to fp=0/nb equal — one degenerate
    bucket pair. Capped: zero pairs from the silent cluster, a distinct
    near-pair still returned. Uncapped default: full O(n²)."""
    silent = multimodal.encode_wav(np.zeros(60, np.int16),
                                   multimodal.AUDIO_SRC_RATE)
    media = local_df(
        spark, [(i, "audio/wav", silent) for i in range(3)],
        "doc_id long, media_type string, payload binary")
    fps = multimodal.audio_fingerprint(media).collect()
    assert len({(r.fp, r.nb) for r in fps}) == 1 and fps[0].fp == 0
    nb = fps[0].nb
    rows = [(i, 0, nb) for i in range(1000)]
    rows += [(2000, 3 << 7, nb + 1), (2001, (3 << 7) ^ 1, nb + 1)]
    df = local_df(spark, rows, "doc_id long, fp long, nb int")
    capped = multimodal.audio_dup_pairs(df, max_hamming=1, max_bucket=500)
    assert {(r.doc_a, r.doc_b) for r in capped.collect()} == {(2000, 2001)}
    assert multimodal.audio_dup_pairs(df).count() == 1000 * 999 // 2 + 1


def test_degenerate_media_differential(spark):
    """Constant-color BMPs, silent WAVs and single-frame AVIs through
    dhash / fingerprint / scene-cut, each checked against the loop-form
    reference implementations — the differential tests previously only
    saw varied synthetic media (round-9 punch item #6)."""
    const_pix = np.full((5, 7, 3), 31, np.uint8)
    tiny_pix = np.full((1, 1, 3), 255, np.uint8)   # 1x1 edge case
    rows = [
        (1, "image/bmp", multimodal.encode_bmp(const_pix)),
        (2, "image/bmp", multimodal.encode_bmp(tiny_pix)),
    ]
    media = local_df(
        spark, rows, "doc_id long, media_type string, payload binary")
    got = {r.doc_id: (r.h0, r.h1)
           for r in multimodal.image_dhash(media).collect()}
    assert got[1] == _ref_dhash(const_pix)
    assert got[2] == _ref_dhash(tiny_pix)
    assert got[1] == (0, 0)   # constant image: no positive gradient

    # silent WAV: every frame energy 0, no increase anywhere -> fp 0
    silent = np.zeros(73, np.int16)
    media_a = local_df(
        spark, [(1, "audio/wav",
          multimodal.encode_wav(silent, multimodal.AUDIO_SRC_RATE))],
        "doc_id long, media_type string, payload binary")
    r = multimodal.audio_fingerprint(media_a).collect()[0]
    assert (r.fp, r.nb) == _ref_audio_fp(silent) == (0, 6)

    # single-frame AVI: no frame pair -> 0 cuts, NULL max_delta/first_cut
    one = np.full((1, 4, 4, 3), 9, np.uint8)
    const3 = np.full((3, 4, 4, 3), 9, np.uint8)   # constant video: 0 cuts
    media_v = local_df(
        spark, [(1, "video/avi", multimodal.encode_avi(one, 10)),
         (2, "video/avi", multimodal.encode_avi(const3, 10))],
        "doc_id long, media_type string, payload binary")
    vr = {r.doc_id: r for r in multimodal.video_scene_cuts(media_v).collect()}
    assert (vr[1].n_frames, vr[1].n_cuts) == (1, 0)
    assert vr[1].max_delta is None and vr[1].first_cut is None
    assert (vr[2].n_frames, vr[2].n_cuts, vr[2].max_delta) == (3, 0, 0)
    assert vr[2].first_cut is None


def test_thumbnail_zero_area_guard(spark):
    """A zero-area decoded image must be skipped, not crash the Arrow
    batch (round-9 ADVICE): simulate by patching decode_bmp is overkill
    — instead feed a 0-width BMP payload built by hand-shrinking the
    header dims, and assert the row is absent while healthy rows
    survive."""
    import struct as _struct
    pix = np.full((3, 3, 3), 7, np.uint8)
    good = multimodal.encode_bmp(pix)
    # patch biWidth (offset 18) to 0 in a copy of the header
    zero_w = bytearray(good)
    zero_w[18:22] = _struct.pack("<i", 0)
    media = local_df(
        spark, [(1, "image/bmp", good), (2, "image/bmp", bytes(zero_w))],
        "doc_id long, media_type string, payload binary")
    try:
        rows = multimodal.thumbnail_image(media, factor=2).collect()
        ids = {r.doc_id for r in rows}
        assert 1 in ids and 2 not in ids
    except Exception:
        # decode_bmp may reject the malformed header outright — that is
        # the documented alternative contract ("raises cleanly")
        with pytest.raises(Exception):
            multimodal.decode_bmp(bytes(zero_w))


def test_audio_vad_silent_loud_and_alternating(spark):
    """VAD edge semantics: silence → zero segments and the −1
    first_active sentinel; a loud clip → one wall-to-wall segment;
    an alternating loud/quiet clip → one segment per loud burst."""
    import numpy as np
    from cube_builder_spark.functions import multimodal

    frame = multimodal.AUDIO_FP_FRAME
    silent = multimodal.encode_wav(np.zeros(frame * 5, np.int16), 8000)
    loud = multimodal.encode_wav(np.full(frame * 4, 1000, np.int16), 8000)
    alt = multimodal.encode_wav(
        np.concatenate([np.full(frame, 1000, np.int16),
                        np.zeros(frame, np.int16)] * 3), 8000)
    media = local_df(
        spark, [(0, "audio/wav", silent), (1, "audio/wav", loud),
         (2, "audio/wav", alt), (3, "image/bmp", b"ignored")],
        "doc_id long, media_type string, payload binary")
    out = {r.doc_id: r for r in multimodal.audio_vad(media).collect()}
    assert set(out) == {0, 1, 2}          # non-audio rows drop
    s = out[0]
    assert (s.n_frames, s.n_active, s.n_segments, s.longest_seg,
            s.first_active) == (5, 0, 0, 0, -1)
    l = out[1]
    assert (l.n_frames, l.n_active, l.n_segments, l.longest_seg,
            l.first_active) == (4, 4, 1, 4, 0)
    a = out[2]
    assert (a.n_frames, a.n_active, a.n_segments, a.longest_seg,
            a.first_active) == (6, 3, 3, 1, 0)
