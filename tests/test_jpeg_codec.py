"""Golden tests for the genuine baseline JPEG decoder (round 15).

The corpus query (`multimodal_jpeg_pixel_decode`) uses byte-aligned
DC-only streams so the DuckDB oracle can pin it in closed form; THESE
tests are what pin the decoder's GENERALITY — an independent encoder
(its own canonical-code builder, bit writer, magnitude coder) produces
genuinely compressed fixtures with multi-length Huffman codes, AC
run/size coding, 0xFF byte-stuffing, restart markers, and 4:4:4 color,
and the expected pixels come from an independent direct cosine-sum
IDCT (the decoder uses the separable matrix form).

Reference behavior parity: the reference repo has no image codecs at
all (its 252 LoC are ingest/API glue — SURVEY.md §2); this is part of
the declared multimodal extension surface.
"""

from __future__ import annotations

import numpy as np
import pytest

from parcial_bigdata_spark.operators import multimodal as mm

ZIGZAG = mm._JPEG_ZIGZAG


def _jpeg_stats(blob):
    """Decode one JPEG and reduce it the way ``decode_pixels`` does."""
    return mm._frame_rgb_stats([mm._jpeg_pixels(blob)])


# ---------------------------------------------------------------- encoder

def _canon_codes(bits, vals):
    """Independent canonical-code builder (same annex-C rule, written
    forward: symbol -> (length, code))."""
    out, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (ln, code)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.buf.append(self.acc)
                if self.acc == 0xFF:
                    self.buf.append(0x00)  # T.81 byte stuffing
                self.acc = self.n = 0

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.acc = (self.acc << pad) | ((1 << pad) - 1)
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
            self.acc = self.n = 0


def _magnitude(v):
    """(category, bits) for a DC diff / AC coefficient value."""
    t = abs(v).bit_length()
    return t, (v if v >= 0 else v + (1 << t) - 1)


# multi-length DC table: categories 0..7 at lengths 2,3,3,3,3,3,4,5
DC_BITS = [0, 1, 5, 1, 1] + [0] * 11
DC_VALS = list(range(8))
# AC table: EOB + 14 run/size symbols across lengths 2..5; 0x04 is
# deliberately LAST in the length-5 group so its canonical code is
# 11111 — the stuffing test leans on that to force an aligned 0xFF
AC_BITS = [0, 1, 2, 4, 8] + [0] * 11
AC_VALS = [0x00, 0x01, 0x02, 0x21, 0x12, 0x03, 0x22,
           0xF0, 0x07, 0x72, 0xA1, 0xF3, 0x31, 0x11, 0x04]


def _encode_blocks(wr, blocks, dc_codes, ac_codes, pred0=0):
    """Entropy-encode a component's blocks (zigzag coefficient lists);
    returns the final DC predictor."""
    pred = pred0
    for zz in blocks:
        t, bits = _magnitude(zz[0] - pred)
        pred = zz[0]
        ln, code = dc_codes[t]
        wr.put(code, ln)
        wr.put(bits, t)
        run = 0
        last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
        for k in range(1, 64):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                ln, code = ac_codes[0xF0]  # ZRL
                wr.put(code, ln)
                run -= 16
            s, bits = _magnitude(zz[k])
            ln, code = ac_codes[(run << 4) | s]
            wr.put(code, ln)
            wr.put(bits, s)
            run = 0
        if last_nz < 63:
            ln, code = ac_codes[0x00]  # EOB
            wr.put(code, ln)
    return pred


def _make_jpeg_full(
    w, h, comp_blocks, quant, restart=0, sof=0xC0, precision=8, hv=0x11,
    hv_list=None,
):
    """Independent baseline JPEG encoder.  ``comp_blocks``: per
    component, a list of 64-length zigzag-order quantized-coefficient
    lists — one per MCU in raster order when every component is 1x1,
    or ``h*v`` consecutive blocks per MCU (T.81 A.2.3 interleave
    order) when ``hv_list`` declares per-component sampling factors."""
    import struct

    nf = len(comp_blocks)
    hv_list = hv_list or [hv] * nf
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(quant)
    out += bytes([0xFF, sof]) + struct.pack(">H", 8 + 3 * nf)
    out += bytes([precision]) + struct.pack(">HH", h, w) + bytes([nf])
    for c in range(nf):
        out += bytes([c + 1, hv_list[c], 0])
    for tc, bits, vals in ((0, DC_BITS, DC_VALS), (1, AC_BITS, AC_VALS)):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
        out += bytes([tc << 4]) + bytes(bits) + bytes(vals)
    if restart:
        out += b"\xff\xdd" + struct.pack(">H", 4) + struct.pack(">H", restart)
    out += b"\xff\xda" + struct.pack(">H", 6 + 2 * nf) + bytes([nf])
    for c in range(nf):
        out += bytes([c + 1, 0x00])
    out += b"\x00\x3f\x00"
    dc_codes = _canon_codes(DC_BITS, DC_VALS)
    ac_codes = _canon_codes(AC_BITS, AC_VALS)
    # single-component frames are non-interleaved (one data unit per
    # MCU) no matter what factors the SOF declares — mirror T.81 A.2.2
    per_mcu = (
        [1] if nf == 1
        else [(hv_list[c] >> 4) * (hv_list[c] & 0x0F) for c in range(nf)]
    )
    # max(1, ...) keeps deliberately-corrupt zero factors encodable
    # (the decoder rejects them at SOF parse before the scan matters)
    n_mcu = len(comp_blocks[0]) // max(1, per_mcu[0])
    preds = [0] * nf
    wr = _BitWriter()
    next_rst = 0
    for i in range(n_mcu):
        if restart and i and i % restart == 0:
            wr.flush()
            out += wr.buf
            wr = _BitWriter()
            out += bytes([0xFF, 0xD0 + next_rst])
            next_rst = (next_rst + 1) & 0x07
            preds = [0] * nf
        for c in range(nf):
            preds[c] = _encode_blocks(
                wr,
                comp_blocks[c][i * per_mcu[c] : (i + 1) * per_mcu[c]],
                dc_codes, ac_codes, preds[c],
            )
    wr.flush()
    out += wr.buf + b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------------------- reference

def _ref_idct(zz, quant):
    """Independent direct cosine double-sum IDCT (T.81 A.3.3), clipped
    to the 8-bit sample range.  Rows are the vertical coordinate (the
    zigzag's row index is the vertical frequency)."""
    f = np.zeros((8, 8))
    for i, pos in enumerate(ZIGZAG):
        f[pos // 8, pos % 8] = zz[i] * quant[i]
    out = np.zeros((8, 8))
    for y in range(8):
        for x in range(8):
            s = 0.0
            for v in range(8):
                for u in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * f[v, u]
                        * np.cos((2 * x + 1) * u * np.pi / 16)
                        * np.cos((2 * y + 1) * v * np.pi / 16)
                    )
            out[y, x] = s / 4 + 128
    return np.clip(np.rint(out), 0, 255).astype(np.int64)


def _ref_gray_image(w, h, blocks, quant):
    bw, bh = (w + 7) // 8, (h + 7) // 8
    img = np.zeros((bh * 8, bw * 8), dtype=np.int64)
    for i, zz in enumerate(blocks):
        by, bx = divmod(i, bw)
        img[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] = _ref_idct(zz, quant)
    return img[:h, :w]


def _gray_stats(img):
    flat = img.reshape(-1)
    pw = int(sum(int(g) * (9 * p + 6) for p, g in enumerate(flat)))
    return {
        "sum": int(flat.sum()),
        "min": int(flat.min()),
        "max": int(flat.max()),
        "pos_weighted": pw,
    }


def _block(dc, ac=()):
    zz = [0] * 64
    zz[0] = dc
    for k, v in ac:
        zz[k] = v
    return zz


QUANT_REAL = [16, 11, 12, 14, 12, 10, 16, 14] + [14] * 56  # non-flat head


# ----------------------------------------------------------------- tests

def test_jpeg_gray_ac_golden():
    """Genuinely compressed grayscale: AC coefficients across runs and
    categories, multi-length Huffman codes, a non-flat quantization
    table — decoder pixels must equal the independent direct-IDCT
    reference exactly (both round float64 away from ties)."""
    blocks = [
        _block(14, [(1, 3), (2, -2), (5, 1), (8, -1)]),
        _block(-9, [(3, 2), (20, -3), (63, 1)]),   # coefficient at k=63
        _block(25, [(1, -7), (17, 4)]),
        _block(0, [(40, 2)]),                      # long zero run
        _block(7, []),                             # DC-only, EOB
        _block(-14, [(1, 1), (2, 1), (3, 1), (4, 1)]),
    ]
    w, h = 24, 16
    blob = _make_jpeg_full(w, h, [blocks], QUANT_REAL)
    stats = _jpeg_stats(blob)
    ref = _gray_stats(_ref_gray_image(w, h, blocks, QUANT_REAL))
    assert (stats["width"], stats["height"], stats["n_pixels"]) == (w, h, w * h)
    assert stats["sum_r"] == stats["sum_g"] == stats["sum_b"] == ref["sum"]
    assert (stats["min_byte"], stats["max_byte"]) == (ref["min"], ref["max"])
    assert stats["pos_weighted"] == ref["pos_weighted"]


def test_jpeg_mcu_crop():
    """Dimensions that are not block multiples: the decoder must crop
    the padded MCU grid back to the declared geometry."""
    blocks = [_block(10, [(1, 2)]), _block(-5), _block(30), _block(0, [(2, 1)])]
    w, h = 13, 11  # 2x2 block grid, cropped
    blob = _make_jpeg_full(w, h, [blocks], QUANT_REAL)
    stats = _jpeg_stats(blob)
    ref = _gray_stats(_ref_gray_image(w, h, blocks, QUANT_REAL))
    assert (stats["width"], stats["height"], stats["n_pixels"]) == (w, h, w * h)
    assert stats["sum_r"] == ref["sum"]
    assert stats["pos_weighted"] == ref["pos_weighted"]


def test_jpeg_byte_stuffing_roundtrip():
    """A stream whose entropy bytes include 0xFF must carry the 0x00
    stuffing (encoder side) and decode through the unstuffing path to
    the exact reference pixels (decoder side)."""
    # symbol 0x04 codes as 11111 and +15 carries magnitude 1111, so
    # two (0, 4)/+15 coefficients after the 2-bit DC-0 code put 18
    # consecutive 1-bits in the stream — an aligned 0xFF is certain
    blocks = [_block(0, [(1, 15), (2, 15)]), _block(64)]
    w, h = 16, 8
    blob = _make_jpeg_full(w, h, [blocks], [1] * 64)
    scan_start = blob.index(b"\xff\xda") + 10  # marker + 8-byte payload
    assert b"\xff\x00" in blob[scan_start:-2], "fixture lost its stuffing"
    stats = _jpeg_stats(blob)
    ref = _gray_stats(_ref_gray_image(w, h, blocks, [1] * 64))
    assert stats["sum_r"] == ref["sum"]
    assert stats["pos_weighted"] == ref["pos_weighted"]


def test_jpeg_restart_markers():
    """DRI + RSTn: the decoder must consume each restart marker, byte-
    realign, reset the DC predictors, and keep the RST index sequence —
    predictors resetting is observable in the pixels (diffs are coded
    against 0 after each restart)."""
    blocks = [_block(40), _block(44), _block(-20), _block(-16),
              _block(60), _block(64)]
    w, h = 16, 24  # 2 wide x 3 high, restart every 2 MCUs
    blob = _make_jpeg_full(w, h, [blocks], [8] + [1] * 63, restart=2)
    assert b"\xff\xd0" in blob and b"\xff\xd1" in blob
    stats = _jpeg_stats(blob)
    ref = _gray_stats(_ref_gray_image(w, h, blocks, [8] + [1] * 63))
    assert stats["sum_r"] == ref["sum"]
    assert stats["pos_weighted"] == ref["pos_weighted"]
    assert (stats["min_byte"], stats["max_byte"]) == (ref["min"], ref["max"])


def test_jpeg_color_444():
    """3-component 4:4:4: per-component entropy interleave in MCU
    order, then the T.871 YCbCr -> RGB transform."""
    yb = [_block(20, [(1, 4)]), _block(-10)]
    cbb = [_block(8), _block(-8, [(2, 2)])]
    crb = [_block(-16), _block(16)]
    w, h = 16, 8
    blob = _make_jpeg_full(w, h, [yb, cbb, crb], QUANT_REAL)
    stats = _jpeg_stats(blob)
    yimg = _ref_gray_image(w, h, yb, QUANT_REAL).astype(np.float64)
    cbimg = _ref_gray_image(w, h, cbb, QUANT_REAL).astype(np.float64)
    crimg = _ref_gray_image(w, h, crb, QUANT_REAL).astype(np.float64)
    r = np.clip(np.rint(yimg + 1.402 * (crimg - 128)), 0, 255)
    g = np.clip(
        np.rint(yimg - 0.344136 * (cbimg - 128) - 0.714136 * (crimg - 128)),
        0, 255,
    )
    b = np.clip(np.rint(yimg + 1.772 * (cbimg - 128)), 0, 255)
    assert stats["sum_r"] == int(r.sum())
    assert stats["sum_g"] == int(g.sum())
    assert stats["sum_b"] == int(b.sum())
    assert stats["min_byte"] == int(min(r.min(), g.min(), b.min()))
    assert stats["max_byte"] == int(max(r.max(), g.max(), b.max()))


def _assemble_plane(blocks, mcux, mcuy, cmp_h, cmp_v, quant):
    """Independent reference: place per-MCU interleaved blocks (flat
    list, MCU-major, cmp_h*cmp_v consecutive blocks per MCU in raster
    order) onto the padded component plane."""
    img = np.zeros((mcuy * cmp_v * 8, mcux * cmp_h * 8), dtype=np.int64)
    i = 0
    for my in range(mcuy):
        for mx in range(mcux):
            for bu in range(cmp_h * cmp_v):
                by = my * cmp_v + bu // cmp_h
                bx = mx * cmp_h + bu % cmp_h
                img[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] = _ref_idct(
                    blocks[i], quant
                )
                i += 1
    return img


def _ref_subsampled_stats(w, h, yb, cbb, crb, quant, yh, yv):
    """Reference pixels for a YCbCr frame with luma factors (yh, yv)
    and 1x1 chroma: MCU-interleaved placement, nearest-neighbor chroma
    replication, T.871 conversion — fully independent of the decoder's
    separable-IDCT/np.repeat implementation path."""
    mcux = (w + 8 * yh - 1) // (8 * yh)
    mcuy = (h + 8 * yv - 1) // (8 * yv)
    yimg = _assemble_plane(yb, mcux, mcuy, yh, yv, quant)[:h, :w]
    cw, ch_ = (w + yh - 1) // yh, (h + yv - 1) // yv
    ups = []
    for blocks in (cbb, crb):
        p = _assemble_plane(blocks, mcux, mcuy, 1, 1, quant)[:ch_, :cw]
        up = np.kron(p, np.ones((yv, yh), dtype=np.int64))[:h, :w]
        ups.append(up.astype(np.float64))
    cbimg, crimg = ups
    yimg = yimg.astype(np.float64)
    r = np.clip(np.rint(yimg + 1.402 * (crimg - 128)), 0, 255)
    g = np.clip(
        np.rint(yimg - 0.344136 * (cbimg - 128) - 0.714136 * (crimg - 128)),
        0, 255,
    )
    b = np.clip(np.rint(yimg + 1.772 * (cbimg - 128)), 0, 255)
    chans = np.stack([c.astype(np.int64) for c in (r, g, b)], axis=-1)
    flat = chans.reshape(-1)
    return {
        "sum_r": int(chans[..., 0].sum()),
        "sum_g": int(chans[..., 1].sum()),
        "sum_b": int(chans[..., 2].sum()),
        "min_byte": int(chans.min()),
        "max_byte": int(chans.max()),
        "pos_weighted": int(
            (flat * np.arange(1, flat.size + 1, dtype=np.int64)).sum()
        ),
    }


def test_jpeg_420_non_neutral_chroma_golden():
    """4:2:0 with REAL chroma content (not the corpus' neutral 128):
    one 16x16 MCU — 4 interleaved Y blocks with AC energy, 1 Cb, 1 Cr
    — decoded pixels must equal the independent MCU-placement +
    2x2-replication + T.871 reference exactly."""
    yb = [_block(20, [(1, 4)]), _block(-10, [(2, 3)]),
          _block(5), _block(15, [(1, -2)])]
    cbb = [_block(9, [(1, 2)])]
    crb = [_block(-12, [(3, 1)])]
    w, h = 16, 16
    blob = _make_jpeg_full(
        w, h, [yb, cbb, crb], QUANT_REAL, hv_list=[0x22, 0x11, 0x11]
    )
    stats = _jpeg_stats(blob)
    ref = _ref_subsampled_stats(w, h, yb, cbb, crb, QUANT_REAL, 2, 2)
    for key, val in ref.items():
        assert stats[key] == val, key
    assert (stats["width"], stats["height"]) == (w, h)


def test_jpeg_420_multi_mcu_order_and_predictors():
    """Two 4:2:0 MCUs side by side: pins the MCU raster order, the
    within-MCU Y-block raster, and the per-COMPONENT DC predictor
    chains (Y predictor runs across all 8 Y blocks; each chroma
    predictor across its 2)."""
    yb = [_block(40 + 7 * i, [(1, (-1) ** i * 2)]) for i in range(8)]
    cbb = [_block(16), _block(-16)]
    crb = [_block(-8), _block(24)]
    w, h = 32, 16
    blob = _make_jpeg_full(
        w, h, [yb, cbb, crb], QUANT_REAL, hv_list=[0x22, 0x11, 0x11]
    )
    stats = _jpeg_stats(blob)
    ref = _ref_subsampled_stats(w, h, yb, cbb, crb, QUANT_REAL, 2, 2)
    for key, val in ref.items():
        assert stats[key] == val, key


def test_jpeg_420_mcu_crop():
    """4:2:0 with dimensions that are NOT MCU multiples (12x10): the
    padded 16x16 MCU grid must crop back per component (Y 12x10,
    chroma 6x5 upsampled to 12x10)."""
    yb = [_block(30, [(1, 3)]), _block(-20), _block(10, [(4, 1)]),
          _block(0)]
    cbb = [_block(6)]
    crb = [_block(-6, [(1, 1)])]
    w, h = 12, 10
    blob = _make_jpeg_full(
        w, h, [yb, cbb, crb], QUANT_REAL, hv_list=[0x22, 0x11, 0x11]
    )
    stats = _jpeg_stats(blob)
    ref = _ref_subsampled_stats(w, h, yb, cbb, crb, QUANT_REAL, 2, 2)
    for key, val in ref.items():
        assert stats[key] == val, key
    assert stats["n_pixels"] == w * h


def test_jpeg_422_golden():
    """4:2:2 (luma 2x1): horizontal-only chroma replication through
    the same generic MCU interleave."""
    yb = [_block(25, [(1, 2)]), _block(-15, [(2, -1)])]
    cbb = [_block(10)]
    crb = [_block(-10)]
    w, h = 16, 8
    blob = _make_jpeg_full(
        w, h, [yb, cbb, crb], QUANT_REAL, hv_list=[0x21, 0x11, 0x11]
    )
    stats = _jpeg_stats(blob)
    ref = _ref_subsampled_stats(w, h, yb, cbb, crb, QUANT_REAL, 2, 1)
    for key, val in ref.items():
        assert stats[key] == val, key


def test_jpeg_single_component_sampling_factors_ignored():
    """T.81 A.2.2: a single-component frame is non-interleaved, so
    declared sampling factors are ignored — a grayscale stream with
    hv 2x2 must decode identically to the 1x1 stream (it previously
    raised the out-of-scope signal)."""
    blocks = [_block(14, [(1, 3)]), _block(-9)]
    w, h = 16, 8
    plain = _make_jpeg_full(w, h, [blocks], QUANT_REAL)
    declared = _make_jpeg_full(w, h, [blocks], QUANT_REAL, hv=0x22)
    assert _jpeg_stats(declared) == _jpeg_stats(plain)


def test_jpeg_taxonomy_unsupported_vs_corrupt():
    """Valid-but-out-of-scope streams are NotImplementedError (the
    optional-PIL signal); corrupt streams are ValueError — never
    confused (round-7 advice)."""
    blocks = [_block(10)]
    good = _make_jpeg_full(8, 8, [blocks], [8] + [1] * 63)
    # out-of-scope: progressive, 12-bit
    for kw in ({"sof": 0xC2}, {"precision": 12}):
        bad = _make_jpeg_full(8, 8, [blocks], [8] + [1] * 63, **kw)
        with pytest.raises(NotImplementedError):
            _jpeg_stats(bad)
    # out-of-scope sampling layouts (color only — single-component
    # factors are ignored per T.81 A.2.2): 4:1:1 luma, subsampled
    # chroma relative to a 2x2 luma beyond the 1x1-chroma scope
    for hvs in ([0x41, 0x11, 0x11], [0x22, 0x21, 0x11]):
        bad = _make_jpeg_full(
            8, 8, [blocks * 4, blocks, blocks], [8] + [1] * 63,
            hv_list=hvs,
        )
        with pytest.raises(NotImplementedError, match="sampling"):
            _jpeg_stats(bad)
    # corrupt, not unsupported: zero sampling factor
    bad = _make_jpeg_full(
        8, 8, [blocks, blocks, blocks], [8] + [1] * 63,
        hv_list=[0x01, 0x11, 0x11],
    )
    with pytest.raises(ValueError, match="sampling"):
        _jpeg_stats(bad)
    # corrupt: bad magic, truncated entropy, EOI before scan
    with pytest.raises(ValueError, match="magic"):
        _jpeg_stats(b"\x00" + good[1:])
    with pytest.raises(ValueError):
        _jpeg_stats(good[:-3])  # truncated mid-entropy
    soi_to_sos = good[: good.index(b"\xff\xda")]
    with pytest.raises(ValueError):
        _jpeg_stats(soi_to_sos + b"\xff\xd9")
    # the good fixture still decodes
    assert _jpeg_stats(good)["n_pixels"] == 64


def test_jpeg_fill_bytes_and_standalone_markers():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
    marker code, and TEM (0x01) / RSTn are standalone length-less
    markers.  Round-15 advice: the marker walk mis-read both as
    length-bearing segments and raised the CORRUPT signal for spec-
    legal files (so real mode never reached the PIL tier).  A padded
    stream must decode to the identical pixels as the plain one."""
    blocks = [_block(14, [(1, 3), (2, -2)]), _block(-9, [(3, 2)])]
    w, h = 16, 8
    plain = _make_jpeg_full(w, h, [blocks], QUANT_REAL)
    ref = _jpeg_stats(plain)

    # splice fill bytes before every pre-SOS marker boundary we know:
    # after SOI, before DQT; and a long run before SOF0
    dqt_at = plain.index(b"\xff\xdb")
    sof_at = plain.index(b"\xff\xc0")
    padded = (
        plain[:dqt_at] + b"\xff" * 3 + plain[dqt_at:sof_at]
        + b"\xff" * 7 + plain[sof_at:]
    )
    assert _jpeg_stats(padded) == ref

    # a standalone TEM marker between segments parses as zero-length
    tem = plain[:dqt_at] + b"\xff\x01" + plain[dqt_at:]
    assert _jpeg_stats(tem) == ref

    # both at once, including fill bytes immediately before the TEM
    both = (
        plain[:dqt_at] + b"\xff\xff\x01" + plain[dqt_at:sof_at]
        + b"\xff\x01\xff" + plain[sof_at:]
    )
    assert _jpeg_stats(both) == ref

    # a truncated trailing fill run is still corrupt, not a crash
    with pytest.raises(ValueError):
        _jpeg_stats(plain[:dqt_at] + b"\xff\xff")


def test_jpeg_corpus_end_to_end(spark, documents):
    """End-to-end: the synthesized closed-form corpus decoded through
    decode_pixels equals the construction arithmetic (the DuckDB
    oracle's formula)."""
    out = mm.jpeg_pixel_summary(documents).collect()
    assert len(out) == 5
    for row in out:
        d_id = row.media_id
        bw, bh = 1 + d_id % 3, 1 + (d_id * 7) % 3
        nb = bw * bh
        dd, ee = 64 + d_id % 64, 64 + (d_id * 5) % 64
        n_odd = nb // 2
        exp_sum = 64 * ((nb - n_odd) * (dd + 128) + n_odd * (dd - ee + 128))
        assert (row.width, row.height) == (8 * bw, 8 * bh)
        assert row.n_pixels == 64 * nb
        assert row.sum_r == row.sum_g == row.sum_b == exp_sum
        assert row.max_byte == dd + 128
        assert row.min_byte == (dd - ee + 128 if nb > 1 else dd + 128)


def test_jpeg_subsampled_corpus_end_to_end(spark, documents):
    """End-to-end: the 4:2:0 corpus decoded through decode_pixels
    equals the construction arithmetic (the DuckDB oracle's formula) —
    neutral chroma makes R = G = B = Y exact, and the within-MCU Y
    raster makes the even/odd split half-and-half."""
    out = mm.jpeg_subsampled_summary(documents).collect()
    assert len(out) == 5
    for row in out:
        d_id = row.media_id
        mw, mh = 1 + d_id % 2, 1 + (d_id // 2) % 2
        nb = 4 * mw * mh
        dd, ee = 64 + d_id % 64, 64 + (d_id * 5) % 64
        exp_sum = 64 * (nb // 2 * (dd + 128) + nb // 2 * (dd - ee + 128))
        assert (row.width, row.height) == (16 * mw, 16 * mh)
        assert row.n_pixels == 256 * mw * mh
        assert row.sum_r == row.sum_g == row.sum_b == exp_sum
        assert row.max_byte == dd + 128
        assert row.min_byte == dd - ee + 128


def test_jpeg_corpus_block_placement():
    """The corpus's even/odd block alternation is PLACED correctly
    (raster MCU order) — pinned by the position-weighted checksum,
    which channel sums cannot see."""
    from pyspark.sql import functions as F  # noqa: F401

    # rebuild doc 5's corpus bytes by hand and check pos_weighted
    d_id = 5
    bw, bh = 1 + d_id % 3, 1 + (d_id * 7) % 3
    dd, ee = 64 + d_id % 64, 64 + (d_id * 5) % 64
    hx = "FFD8" + "FFDB004300" + "08" + "01" * 63
    hx += ("FFC0000B08" + format(8 * bh, "04X") + format(8 * bw, "04X")
           + "01011100")
    hx += "FFC4001500" + "0000000101" + "00" * 11 + "0007"
    hx += "FFC4001410" + "00000001" + "00" * 12 + "00"
    hx += "FFDA000801010000" + "3F00"
    for k in range(bw * bh):
        v = dd if k == 0 else (127 - ee if k % 2 == 1 else ee)
        hx += format(16 + v // 16, "02X") + format((v % 16) * 16, "02X")
    hx += "FFD9"
    stats = _jpeg_stats(bytes.fromhex(hx))
    img = np.zeros((8 * bh, 8 * bw), dtype=np.int64)
    for k in range(bw * bh):
        by, bx = divmod(k, bw)
        g = dd + 128 if k % 2 == 0 else dd - ee + 128
        img[8 * by : 8 * by + 8, 8 * bx : 8 * bx + 8] = g
    assert stats["pos_weighted"] == _gray_stats(img)["pos_weighted"]


def test_restart_corpus_matches_base_corpus(spark, documents):
    """The DRI/RSTn corpus must decode to EXACTLY the base JPEG
    corpus's statistics (interval 2 preserves the even/odd closed
    form) — and actually carry DRI + restart markers."""
    from parcial_bigdata_spark.operators import multimodal as mmod

    blob = bytes(
        mmod.synth_jpeg_restart_corpus(documents.limit(1))
        .collect()[0].content
    )
    assert b"\xff\xdd\x00\x04\x00\x02" in blob  # DRI, interval 2
    base = {
        r.media_id: r
        for r in mmod.jpeg_pixel_summary(documents).collect()
    }
    rst = {
        r.media_id: r
        for r in mmod.jpeg_restart_summary(documents).collect()
    }
    assert set(base) == set(rst)
    for k in base:
        assert base[k] == rst[k]
