"""Optional PIL/PyAV codec tier (round-11 verdict item 7).

The stdlib decoders are the guaranteed tier; PIL / PyAV are probed at
first use and widen what real mode (``use_fake_decode=False``) can
decode.  These tests exercise BOTH postures: on a machine without the
libraries (this container) the probes return None and the guards raise
exactly as before; on a machine WITH them, the PIL tier decodes what
the stdlib tier declines and its statistics match an independent
numpy reduction.
"""

from __future__ import annotations

import importlib.util

import pytest

from parcial_bigdata_spark.operators import multimodal as mm

_HAS_PIL = importlib.util.find_spec("PIL") is not None
_HAS_AV = importlib.util.find_spec("av") is not None

# a payload no stdlib sniffer recognizes
_EXOTIC = b"\x00\x01exotic-codec-payload" * 4

PIXEL_COLUMNS = (
    "width", "height", "n_pixels", "sum_b", "sum_g", "sum_r",
    "min_byte", "max_byte",
)


@pytest.mark.skipif(_HAS_PIL, reason="PIL installed: guard tier not active")
class TestGuardTierWithoutPIL:
    def test_probe_returns_none(self):
        assert mm._optional_pil() is None

    def test_pixel_helper_returns_none(self):
        assert mm._pil_pixels(_EXOTIC) is None

    def test_media_helper_returns_none(self):
        assert mm._pil_decode_media(_EXOTIC) is None

    def test_real_pixel_decode_raises_for_unsupported(self, spark):
        media = mm.as_media(
            spark.createDataFrame(
                [(1, bytearray(_EXOTIC), "s")], "doc_id long, text binary, source string"
            ),
            "doc_id",
            "text",
            "source",
        )
        with pytest.raises(Exception, match="NotImplementedError|PIL"):
            mm.decode_pixels(media, use_fake_decode=False).collect()


class _StubImage:
    """What ``PIL.Image.open`` returns, reduced to what the tier reads:
    a 3x2 RGB image whose every byte is 7."""

    size = (3, 2)
    mode = "RGB"

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def convert(self, mode):
        return self

    def __array__(self, dtype=None, copy=None):
        import numpy as np

        return np.full((2, 3, 3), 7, dtype=dtype or np.uint8)


class _StubPIL:
    def __init__(self):
        self.calls = 0

    def open(self, fp):
        self.calls += 1
        return _StubImage()


class TestDispatcherTierArm:
    """The real-mode optional-tier arm of ``_decode_blob``, exercised in
    process with PIL replaced by a stub (a monkeypatch does not reach
    mapInPandas workers, so these call the dispatcher directly)."""

    STUB_STATS = {
        "width": 3, "height": 2, "n_pixels": 6, "sum_b": 42, "sum_g": 42,
        "sum_r": 42, "min_byte": 7, "max_byte": 7,
    }

    @pytest.fixture
    def stub(self, monkeypatch):
        pil = _StubPIL()
        monkeypatch.setattr(mm, "_optional_pil", lambda: pil)
        return pil

    def _pixels(self, blob, fake=False):
        stats = mm._decode_blob(blob, mm._PIXELS, fake)
        return {k: stats[k] for k in PIXEL_COLUMNS}

    def test_unrecognised_payload_gets_the_tier(self, stub):
        assert self._pixels(_EXOTIC) == self.STUB_STATS
        assert stub.calls == 1
        meta = mm._decode_blob(_EXOTIC, mm._MEDIA, False)
        assert (meta["width"], meta["height"], meta["channels"]) == (3, 2, 3)

    def test_unsupported_bmp_reaches_the_tier(self, stub):
        from tests.test_sources_config import _make_bmp

        assert self._pixels(_make_bmp(4, 2, bpp=8)) == self.STUB_STATS
        assert stub.calls == 1

    def test_corrupt_png_raises_without_the_tier(self, stub):
        bad_ihdr = b"\x89PNG\r\n\x1a\n" + b"\x00" * 40
        with pytest.raises(ValueError, match="IHDR"):
            mm._decode_blob(bad_ihdr, mm._PIXELS, False)
        assert stub.calls == 0

    def test_fake_mode_never_consults_the_tier(self, stub):
        from tests.test_sources_config import _make_bmp

        assert self._pixels(_make_bmp(4, 2, bpp=8), fake=True)["max_byte"] == 255
        assert self._pixels(_EXOTIC, fake=True)["max_byte"] == 255
        assert stub.calls == 0


@pytest.mark.skipif(not _HAS_PIL, reason="optional PIL tier not installed")
class TestPILTier:
    def _png_bytes(self, mode: str, size=(5, 4)) -> bytes:
        import io

        from PIL import Image

        im = Image.new(mode, size)
        px = im.load()
        for x in range(size[0]):
            for y in range(size[1]):
                v = (x * 7 + y * 13) % 256
                px[x, y] = v if mode in ("L", "P") else (v, 255 - v, x)
        buf = io.BytesIO()
        im.save(buf, format="PNG")
        return buf.getvalue()

    def test_pil_pixels_match_numpy(self):
        import io

        import numpy as np
        from PIL import Image

        blob = self._png_bytes("L")  # grayscale: stdlib tier declines it
        stats = mm._frame_rgb_stats([mm._pil_pixels(blob)])
        arr = np.asarray(
            Image.open(io.BytesIO(blob)).convert("RGB"), dtype=np.uint8
        )
        chans = arr.reshape(-1, 3).astype(np.int64)
        # the shared reduction also reports n_frames and pos_weighted
        assert {k: stats[k] for k in PIXEL_COLUMNS} == {
            "width": arr.shape[1],
            "height": arr.shape[0],
            "n_pixels": arr.shape[0] * arr.shape[1],
            "sum_b": int(chans[:, 2].sum()),
            "sum_g": int(chans[:, 1].sum()),
            "sum_r": int(chans[:, 0].sum()),
            "min_byte": int(arr.min()),
            "max_byte": int(arr.max()),
        }

    def test_real_mode_decodes_grayscale_png(self, spark):
        blob = self._png_bytes("L")
        media = mm.as_media(
            spark.createDataFrame(
                [(1, bytearray(blob), "s")],
                "doc_id long, text binary, source string",
            ),
            "doc_id",
            "text",
            "source",
        )
        [row] = mm.decode_pixels(media, use_fake_decode=False).collect()
        assert (row.width, row.height) == (5, 4)

    def test_media_metadata_channels(self):
        assert mm._pil_decode_media(self._png_bytes("L"))["channels"] == 1
        assert mm._pil_decode_media(self._png_bytes("RGB"))["channels"] == 3


@pytest.mark.skipif(_HAS_AV, reason="PyAV installed: guard tier not active")
def test_frame_sample_real_mode_guard_without_av(spark):
    media = mm.as_media(
        spark.createDataFrame(
            [(1, bytearray(_EXOTIC), "s")], "doc_id long, text binary, source string"
        ),
        "doc_id",
        "text",
        "source",
    )
    with pytest.raises(Exception, match="NotImplementedError|PyAV|ffmpeg"):
        mm.frame_sample(media, use_fake_decode=False).collect()


def test_fake_tier_unchanged(spark):
    """The guaranteed tier is identical with or without the optional
    libraries: fake mode never consults the probes."""
    media = mm.as_media(
        spark.createDataFrame(
            [(1, bytearray(_EXOTIC), "s")], "doc_id long, text binary, source string"
        ),
        "doc_id",
        "text",
        "source",
    )
    [row] = mm.decode_media(media, use_fake_decode=True).collect()
    assert row.byte_len == len(_EXOTIC)
    frames = mm.frame_sample(media, every_n_bytes=16).collect()
    assert len(frames) == (len(_EXOTIC) + 15) // 16


def test_png_corpus_chunk_crcs_are_spec_valid(spark):
    """The synthetic PNG corpus must be consumable by CRC-verifying
    decoders (PIL rejects a bad chunk CRC where stdlib zlib never looks
    at it): walk every chunk of every image and check its CRC against
    zlib.crc32 over type+data — the exact check PIL performs."""
    import struct
    import zlib

    docs = spark.createDataFrame(
        [(i, "t", "en", f"src{i % 4}", 1) for i in range(12)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    for r in mm.synth_png_pixel_corpus(docs).collect():
        b = bytes(r.content)
        assert b[:8] == b"\x89PNG\r\n\x1a\n"
        pos = 8
        seen = []
        while pos < len(b):
            ln = struct.unpack(">I", b[pos:pos + 4])[0]
            typ = b[pos + 4:pos + 8]
            data = b[pos + 8:pos + 8 + ln]
            crc = struct.unpack(">I", b[pos + 8 + ln:pos + 12 + ln])[0]
            assert crc == zlib.crc32(typ + data) & 0xFFFFFFFF, typ
            seen.append(typ)
            pos += 12 + ln
        assert seen == [b"IHDR", b"IDAT", b"IEND"]


@pytest.mark.skipif(not _HAS_PIL, reason="optional PIL tier not installed")
def test_pil_pixel_decode_query_matches_stdlib(spark):
    """On a PIL-equipped box the optional-tier registry query must
    reproduce the stdlib decode bit-for-bit (both are pinned by the
    same closed-form oracle)."""
    docs = spark.createDataFrame(
        [(i, "t", "en", f"src{i % 4}", 1) for i in range(10)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    pil_rows = mm.pil_pixel_summary(docs).collect()
    std_rows = mm.png_pixel_summary(docs).collect()
    assert [tuple(r) for r in pil_rows] == [tuple(r) for r in std_rows]


@pytest.mark.skipif(_HAS_PIL, reason="PIL installed: guard tier not active")
def test_pil_pixel_decode_not_registered_without_pil():
    from parcial_bigdata_spark.plans import registry

    assert "multimodal_pil_pixel_decode" not in registry.QUERIES
    assert "multimodal_pil_pixel_decode" not in registry.ORACLES
    assert "multimodal_pil_pixel_decode" in registry.OPTIONAL_QUERIES


@pytest.mark.skipif(_HAS_AV, reason="PyAV installed: guard tier not active")
class TestPyAVGuardTier:
    """Round-15 verdict item 6: the PyAV video twin mirrors the PIL
    pattern — on an unequipped box it never registers and its helper
    returns None so the NotImplementedError guard names the tier."""

    def test_frame_helper_returns_none(self):
        assert mm._pyav_frames(_EXOTIC) is None

    def test_query_not_registered_without_av(self):
        from parcial_bigdata_spark.plans import registry

        assert "multimodal_pyav_frame_decode" not in registry.QUERIES
        assert "multimodal_pyav_frame_decode" not in registry.ORACLES
        assert "multimodal_pyav_frame_decode" in registry.OPTIONAL_QUERIES

    def test_summary_raises_naming_tier(self, spark):
        docs = spark.createDataFrame(
            [(1, "t", "en", "src0", 1)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )
        with pytest.raises(Exception, match="PyAV"):
            mm.pyav_frame_summary(docs).collect()


@pytest.mark.skipif(not _HAS_AV, reason="optional PyAV tier not installed")
def test_pyav_frame_decode_query_matches_stdlib(spark):
    """On a PyAV-equipped box the optional-tier registry query must
    reproduce the stdlib AVI decode bit-for-bit — BI_RGB rawvideo has
    no IDCT or color approximation, so libavformat's RIFF demux +
    rawvideo decode + bottom-up flip share the stdlib query's
    closed-form oracle exactly."""
    docs = spark.createDataFrame(
        [(i, "t", "en", f"src{i % 4}", 1) for i in range(10)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    av_rows = mm.pyav_frame_summary(docs).collect()
    std_rows = mm.avi_frame_summary(docs).collect()
    assert [tuple(r) for r in av_rows] == [tuple(r) for r in std_rows]
