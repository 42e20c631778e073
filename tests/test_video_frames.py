"""Golden tests for the real AVI/MP4 frame-payload decoders (round 15).

The corpus queries use constant-color frames so DuckDB can pin them in
closed form; THESE tests pin the decoders' GENERALITY with independent
builders: non-constant DIB frames (stride slicing + bottom-up row
order observable), top-down negative-height DIBs, MJPG frames decoded
through the genuine JPEG path (cross-codec), I420 with NON-neutral
chroma against an independent BT.601 reference, multi-chunk stsc
layouts, per-sample stsz tables, co64 offsets, and the corrupt-vs-
unsupported taxonomy.

Reference parity note: the reference repo has no media surface at all
(its 252 LoC are ingest/API glue — SURVEY.md §2); this is part of the
declared multimodal extension tier.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from parcial_bigdata_spark.operators import multimodal as mm


# ------------------------------------------------------------ builders

def _avi(frames: list[bytes], w: int, h: int, compression=0,
         bitcount=24, fcc=b"00db") -> bytes:
    """Independent minimal-AVI builder: RIFF(hdrl(avih, strl(strh,
    strf)), movi(frames))."""
    strh = (b"vids" + b"DIB " + bytes(12)
            + struct.pack("<II", 1, 25) + bytes(4)
            + struct.pack("<I", len(frames)) + bytes(20))
    comp = struct.pack("<I", compression) if isinstance(compression, int) \
        else compression
    strf = (struct.pack("<Iii", 40, w, h) + struct.pack("<HH", 1, bitcount)
            + comp + struct.pack("<I", len(frames[0]) if frames else 0)
            + bytes(16))
    strl = b"strl" + b"strh" + struct.pack("<I", 56) + strh \
        + b"strf" + struct.pack("<I", 40) + strf
    avih = (struct.pack("<I", 40_000) + bytes(12)
            + struct.pack("<I", len(frames)) + bytes(4)
            + struct.pack("<I", 1) + bytes(4)
            + struct.pack("<II", w, abs(h)) + bytes(16))
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", 56) + avih \
        + b"LIST" + struct.pack("<I", len(strl)) + strl
    movi = b"movi"
    for fr in frames:
        movi += fcc + struct.pack("<I", len(fr)) + fr
        if len(fr) & 1:
            movi += b"\x00"
    body = (b"AVI " + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
            + b"LIST" + struct.pack("<I", len(movi)) + movi)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _dib_frame(img_bgr: np.ndarray, bottom_up=True) -> bytes:
    """Stride-padded DIB frame bytes from an (h, w, 3) BGR image in
    TOP-DOWN display order."""
    h, w, _ = img_bgr.shape
    stride = (3 * w + 3) // 4 * 4
    rows = img_bgr[::-1] if bottom_up else img_bgr
    out = bytearray()
    for r in range(h):
        out += rows[r].tobytes() + bytes(stride - 3 * w)
    return bytes(out)


def _box(name: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + name + body


def _full(name: bytes, body: bytes, version=0, flags=0) -> bytes:
    return _box(name, bytes([version]) + flags.to_bytes(3, "big") + body)


def _mp4(samples: list[bytes], w: int, h: int, fmt=b"I420",
         chunks: list[int] | None = None, use_co64=False,
         force_stsz_table=False) -> bytes:
    """Independent minimal-MP4 builder with genuine sample tables.
    ``chunks``: samples per chunk (default: all in one chunk)."""
    chunks = chunks or [len(samples)]
    assert sum(chunks) == len(samples)
    entry = (struct.pack(">I", 86) + fmt + bytes(6) + struct.pack(">H", 1)
             + bytes(16) + struct.pack(">HH", w, h)
             + struct.pack(">II", 0x480000, 0x480000) + bytes(4)
             + struct.pack(">H", 1) + bytes(32)
             + struct.pack(">Hh", 24, -1))
    stsd = _full(b"stsd", struct.pack(">I", 1) + entry)
    stts = _full(b"stts", struct.pack(">III", 1, len(samples), 40))
    runs = b""
    first = 1
    i = 0
    while i < len(chunks):  # collapse equal runs like a real muxer
        j = i
        while j + 1 < len(chunks) and chunks[j + 1] == chunks[i]:
            j += 1
        runs += struct.pack(">III", first + i, chunks[i], 1)
        i = j + 1
    stsc = _full(b"stsc", struct.pack(">I", runs.__len__() // 12) + runs)
    sizes = [len(s) for s in samples]
    if len(set(sizes)) == 1 and not force_stsz_table:
        stsz = _full(b"stsz", struct.pack(">II", sizes[0], len(samples)))
    else:
        stsz = _full(
            b"stsz",
            struct.pack(">II", 0, len(samples))
            + b"".join(struct.pack(">I", s) for s in sizes),
        )
    # chunk offsets need the final header length: compute with a
    # placeholder, then rebuild (header length is offset-independent)
    def build(offsets):
        if use_co64:
            stco = _full(
                b"co64",
                struct.pack(">I", len(offsets))
                + b"".join(struct.pack(">Q", o) for o in offsets),
            )
        else:
            stco = _full(
                b"stco",
                struct.pack(">I", len(offsets))
                + b"".join(struct.pack(">I", o) for o in offsets),
            )
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        url = _full(b"url ", b"", flags=1)
        dref = _full(b"dref", struct.pack(">I", 1) + url)
        dinf = _box(b"dinf", dref)
        vmhd = _full(b"vmhd", bytes(8), flags=1)
        minf = _box(b"minf", vmhd + dinf + stbl)
        hdlr = _full(b"hdlr", bytes(4) + b"vide" + bytes(12) + b"\x00")
        mdhd = _full(b"mdhd", bytes(8) + struct.pack(">II", 1000, 40)
                     + struct.pack(">HH", 0x55C4, 0))
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        tkhd = _full(b"tkhd", bytes(8) + struct.pack(">I", 1) + bytes(4)
                     + struct.pack(">I", 40) + bytes(16)
                     + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0,
                                   0, 0, 0x40000000)
                     + struct.pack(">II", w << 16, h << 16), flags=7)
        trak = _box(b"trak", tkhd + mdia)
        mvhd = _full(b"mvhd", bytes(8) + struct.pack(">II", 1000, 40)
                     + struct.pack(">I", 0x10000)
                     + struct.pack(">H", 0x0100) + bytes(10)
                     + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0,
                                   0, 0, 0x40000000)
                     + bytes(24) + struct.pack(">I", 2))
        moov = _box(b"moov", mvhd + trak)
        ftyp = _box(b"ftyp", b"isom" + bytes(4))
        return ftyp + moov
    header = build([0] * len(chunks))
    payload = b"".join(samples)
    offsets, pos, si = [], len(header) + 8, 0
    for n_in in chunks:
        offsets.append(pos)
        for _ in range(n_in):
            pos += sizes[si]
            si += 1
    header = build(offsets)
    return header + _box(b"mdat", payload)


def _i420(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> bytes:
    return y.astype(np.uint8).tobytes() + cb.astype(np.uint8).tobytes() \
        + cr.astype(np.uint8).tobytes()


def _ref_i420_rgb(y, cb, cr):
    """Independent full-range BT.601 (T.871) reference."""
    cb2 = cb.repeat(2, axis=0).repeat(2, axis=1).astype(np.float64)
    cr2 = cr.repeat(2, axis=0).repeat(2, axis=1).astype(np.float64)
    yf = y.astype(np.float64)
    r = np.clip(np.rint(yf + 1.402 * (cr2 - 128)), 0, 255)
    g = np.clip(np.rint(yf - 0.344136 * (cb2 - 128)
                        - 0.714136 * (cr2 - 128)), 0, 255)
    b = np.clip(np.rint(yf + 1.772 * (cb2 - 128)), 0, 255)
    return np.stack([r, g, b], axis=-1).astype(np.int64)


def _avi_stats(blob):
    """Decode one AVI and reduce it the way ``decode_video_frames`` does."""
    return mm._frame_rgb_stats(mm._avi_frames(blob))


def _mp4_stats(blob):
    return mm._frame_rgb_stats(mm._mp4_frames(blob))


def _jpeg_stats(blob):
    return mm._frame_rgb_stats([mm._jpeg_pixels(blob)])


def _rgb_stats(frames):
    chans = np.concatenate([f.reshape(-1, 3) for f in frames], axis=0)
    flat = chans.reshape(-1).astype(np.int64)
    return {
        "sum_r": int(chans[:, 0].sum()), "sum_g": int(chans[:, 1].sum()),
        "sum_b": int(chans[:, 2].sum()),
        "min": int(chans.min()), "max": int(chans.max()),
        "pw": int((flat * np.arange(1, flat.size + 1, dtype=np.int64)).sum()),
    }


# ---------------------------------------------------------------- tests

def _grad_bgr(w, h, seed):
    """Non-constant BGR test image: every pixel distinct-ish."""
    yy, xx = np.mgrid[0:h, 0:w]
    b = (seed + 3 * xx + 7 * yy) % 256
    g = (seed + 5 * xx + 11 * yy + 40) % 256
    r = (seed + 2 * xx + 13 * yy + 90) % 256
    return np.stack([b, g, r], axis=-1).astype(np.uint8)


def test_avi_dib_bottom_up_stride_golden():
    """Non-constant frames: bottom-up row unflip and stride slicing are
    observable through the position-weighted checksum."""
    w, h = 7, 5  # 3*7=21 -> stride 24: real padding exercised
    imgs = [_grad_bgr(w, h, s) for s in (1, 60)]
    blob = _avi([_dib_frame(i, bottom_up=True) for i in imgs], w, h)
    stats = _avi_stats(blob)
    ref = _rgb_stats([i[:, :, ::-1].astype(np.int64) for i in imgs])
    assert (stats["width"], stats["height"], stats["n_frames"]) == (w, h, 2)
    assert stats["n_pixels"] == 2 * w * h
    assert (stats["sum_r"], stats["sum_g"], stats["sum_b"]) == (
        ref["sum_r"], ref["sum_g"], ref["sum_b"])
    assert (stats["min_byte"], stats["max_byte"]) == (ref["min"], ref["max"])
    assert stats["pos_weighted"] == ref["pw"]


def test_avi_dib_top_down_negative_height():
    """Negative biHeight = top-down file order: same image must yield
    the same position-weighted checksum as the bottom-up twin."""
    w, h = 6, 4
    img = _grad_bgr(w, h, 9)
    up = _avi([_dib_frame(img, bottom_up=True)], w, h)
    down = _avi([_dib_frame(img, bottom_up=False)], w, -h)
    s_up, s_down = _avi_stats(up), _avi_stats(down)
    assert s_up["pos_weighted"] == s_down["pos_weighted"]
    assert s_up["sum_r"] == s_down["sum_r"]
    assert s_down["height"] == h


def test_avi_mjpg_cross_codec():
    """MJPG frames are complete baseline JPEGs decoded through the
    genuine JPEG path — frame order pinned by the shifted checksum."""
    from tests.test_jpeg_codec import QUANT_REAL, _block, _make_jpeg_full

    f1 = _make_jpeg_full(8, 8, [[_block(20, [(1, 3)])]], QUANT_REAL)
    f2 = _make_jpeg_full(8, 8, [[_block(-11, [(2, -2)])]], QUANT_REAL)
    blob = _avi([f1, f2], 8, 8, compression=b"MJPG", fcc=b"00dc")
    stats = _avi_stats(blob)
    s1, s2 = _jpeg_stats(f1), _jpeg_stats(f2)
    assert stats["n_frames"] == 2
    assert stats["sum_r"] == s1["sum_r"] + s2["sum_r"]
    assert stats["min_byte"] == min(s1["min_byte"], s2["min_byte"])
    offset = 3 * s1["n_pixels"]
    assert stats["pos_weighted"] == s1["pos_weighted"] + (
        s2["pos_weighted"]
        + offset * (s2["sum_r"] + s2["sum_g"] + s2["sum_b"])
    )


def test_avi_taxonomy():
    """Compressed-codec AVIs are NotImplementedError; corrupt
    containers are ValueError — never confused."""
    w, h = 6, 4
    img = _grad_bgr(w, h, 3)
    good = _avi([_dib_frame(img)], w, h)
    h264 = _avi([b"\x00" * 16], w, h, compression=b"H264", fcc=b"00dc")
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        _avi_stats(h264)
    with pytest.raises(ValueError, match="magic"):
        _avi_stats(b"RIFX" + good[4:])
    with pytest.raises(ValueError, match="volume"):
        _avi_stats(_avi([_dib_frame(img)[:-4]], w, h))
    with pytest.raises(ValueError, match="truncated"):
        _avi_stats(good[:-6])
    assert _avi_stats(good)["n_pixels"] == w * h


def test_mp4_i420_color_golden():
    """Non-neutral chroma: the 2x2 chroma upsample and the full-range
    BT.601 transform against the independent reference, frame order
    pinned by the checksum."""
    w, h = 8, 6
    rng = [(s, np.arange(w * h).reshape(h, w) * s % 256) for s in (3, 5)]
    frames, refs = [], []
    for s, y in rng:
        cb = (np.arange(w * h // 4).reshape(h // 2, w // 2) * 7 + s) % 256
        cr = (np.arange(w * h // 4).reshape(h // 2, w // 2) * 11 + 2 * s) % 256
        frames.append(_i420(y, cb, cr))
        refs.append(_ref_i420_rgb(y, cb, cr))
    blob = _mp4(frames, w, h)
    stats = _mp4_stats(blob)
    ref = _rgb_stats(refs)
    assert (stats["width"], stats["height"], stats["n_frames"]) == (w, h, 2)
    assert (stats["sum_r"], stats["sum_g"], stats["sum_b"]) == (
        ref["sum_r"], ref["sum_g"], ref["sum_b"])
    assert (stats["min_byte"], stats["max_byte"]) == (ref["min"], ref["max"])
    assert stats["pos_weighted"] == ref["pw"]


def test_mp4_multi_chunk_and_co64():
    """stsc runs over several chunks and 64-bit co64 offsets resolve to
    the same samples as the single-chunk 32-bit layout."""
    w, h = 4, 4
    ys = [np.full((h, w), 40 * (f + 1), dtype=np.uint8) for f in range(5)]
    neutral = np.full((h // 2, w // 2), 128, dtype=np.uint8)
    samples = [_i420(y, neutral, neutral) for y in ys]
    one = _mp4_stats(_mp4(samples, w, h))
    many = _mp4_stats(_mp4(samples, w, h, chunks=[2, 2, 1]))
    big = _mp4_stats(_mp4(samples, w, h, use_co64=True))
    assert one == many == big
    assert one["n_frames"] == 5
    assert one["sum_r"] == sum(int(y.sum()) for y in ys)


def test_mp4_per_sample_stsz_table():
    """A per-sample stsz table (sample_size = 0) resolves identically
    to the uniform encoding — both the uniform fast path and the table
    walk are exercised on the same samples."""
    w, h = 4, 2
    y1 = np.full((h, w), 50, dtype=np.uint8)
    y2 = np.full((h, w), 90, dtype=np.uint8)
    neutral = np.full((h // 2, w // 2), 128, dtype=np.uint8)
    samples = [_i420(y1, neutral, neutral), _i420(y2, neutral, neutral)]
    uniform_blob = _mp4(samples, w, h)
    table_blob = _mp4(samples, w, h, force_stsz_table=True)
    # table form: verflags 0, sample_size 0, count 2
    assert b"stsz" + struct.pack(">III", 0, 0, 2) in table_blob
    assert uniform_blob != table_blob
    uniform = _mp4_stats(uniform_blob)
    table = _mp4_stats(table_blob)
    assert uniform == table
    assert uniform["n_frames"] == 2
    assert uniform["sum_r"] == int(y1.sum()) + int(y2.sum())


def test_mp4_taxonomy():
    """Compressed-codec MP4s are NotImplementedError; corrupt
    containers are ValueError."""
    w, h = 4, 4
    y = np.full((h, w), 77, dtype=np.uint8)
    neutral = np.full((h // 2, w // 2), 128, dtype=np.uint8)
    sample = _i420(y, neutral, neutral)
    good = _mp4([sample], w, h)
    avc = _mp4([b"\x00" * 24], w, h, fmt=b"avc1")
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        _mp4_stats(avc)
    with pytest.raises(ValueError, match="magic"):
        _mp4_stats(b"\x00" * 24)
    with pytest.raises(ValueError, match="volume"):
        _mp4_stats(_mp4([sample[:-2]], w, h))
    with pytest.raises(ValueError):
        _mp4_stats(good[: len(good) - len(sample) // 2])
    assert _mp4_stats(good)["n_pixels"] == w * h


def test_mp4_undersized_sample_table_boxes():
    """Round-15 advice: sample-table header reads were bounded only by
    the whole payload, so an UNDERSIZED box silently read its sibling's
    bytes as counts (garbage caught late, or struct.error near the file
    tail — outside the documented taxonomy).  Each table must now raise
    ValueError('... truncated') against its OWN box extent."""
    import re

    w, h = 4, 4
    y = np.full((h, w), 77, dtype=np.uint8)
    neutral = np.full((h // 2, w // 2), 128, dtype=np.uint8)
    good = _mp4([_i420(y, neutral, neutral)], w, h)

    def shrink(blob: bytes, name: bytes) -> bytes:
        """Shrink ``name``'s box to a bare 4-byte full-box header (size
        12) and backfill with a ``free`` box so every enclosing box
        size stays consistent — the undersized table is the ONLY
        defect in the file."""
        at = blob.index(name) - 4
        (size,) = struct.unpack(">I", blob[at : at + 4])
        assert size >= 20, "fixture box too small to shrink"
        return (
            blob[:at]
            + struct.pack(">I", 12) + name + bytes(4)
            + struct.pack(">I", size - 12) + b"free"
            + blob[at + 20 : at + size]
            + blob[at + size :]
        )

    for name in (b"stsz", b"stsc", b"stco"):
        with pytest.raises(ValueError, match=re.escape("truncated")):
            _mp4_stats(shrink(good, name))
    # control: the shrink helper itself keeps an otherwise-valid file
    # valid — replacing stts (which the decoder never reads) must still
    # decode
    assert _mp4_stats(shrink(good, b"stts"))["n_pixels"] == w * h


def test_mjpg_avi_corpus_end_to_end(spark, documents):
    """The closed-form Motion-JPEG AVI corpus decoded through the
    cross-codec path equals the per-frame JPEG construction arithmetic
    (the DuckDB oracle's formula) — including the odd-size RIFF pad
    byte every JPEG frame chunk carries (141 + 2·bw·bh is always
    odd)."""
    rows = mm.mjpg_avi_summary(documents).collect()
    assert len(rows) == 5
    for r in rows:
        d = r.media_id
        bw, bh, n = 1 + d % 3, 1 + (d * 7) % 3, 2 + d % 2
        nb, n_odd = bw * bh, (bw * bh) // 2
        total = 0
        mins, maxs = [], []
        for f in range(n):
            dd = 64 + (d + 31 * f) % 64
            ee = 64 + (d * 5 + 13 * f) % 64
            total += 64 * ((nb - n_odd) * (dd + 128)
                           + n_odd * (dd - ee + 128))
            mins.append(dd - ee + 128 if nb > 1 else dd + 128)
            maxs.append(dd + 128)
        assert (r.width, r.height, r.n_frames) == (8 * bw, 8 * bh, n)
        assert r.n_pixels == 64 * nb * n
        assert r.sum_r == r.sum_g == r.sum_b == total
        assert (r.min_byte, r.max_byte) == (min(mins), max(maxs))


def test_decode_video_frames_spark_path(spark):
    """The mapInPandas wrapper: mixed AVI/MP4 batch, schema and values."""
    w, h = 6, 4
    img = _grad_bgr(w, h, 12)
    avi_blob = _avi([_dib_frame(img)], w, h)
    y = np.full((4, 4), 100, dtype=np.uint8)
    neutral = np.full((2, 2), 128, dtype=np.uint8)
    mp4_blob = _mp4([_i420(y, neutral, neutral)], 4, 4)
    media = spark.createDataFrame(
        [(1, avi_blob, "video/avi", "s"), (2, mp4_blob, "video/mp4", "s")],
        "media_id long, content binary, media_type string, source string",
    )
    rows = {r.media_id: r for r in mm.decode_video_frames(media).collect()}
    assert rows[1].n_pixels == w * h
    assert rows[1].sum_b == int(img[:, :, 0].astype(np.int64).sum())
    assert rows[2].sum_r == 100 * 16
    assert rows[2].min_byte == rows[2].max_byte == 100
