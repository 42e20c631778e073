"""Byte pins for the synthetic media corpora.

The decode oracles see only decoded statistics, so fields the decoders
read past (chunk CRCs, RIFF sizes, pad bytes, unused header fields) are
pinned nowhere else.  Each corpus is built over doc_ids 0..255 and the
md5 of its ``content`` bytes, concatenated in ``media_id`` order, must
match the value recorded when the corpus was written.  A change to how
a corpus is assembled must leave every byte where it was.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from parcial_bigdata_spark.operators import multimodal as mm

CORPORA = {
    "image": (mm.synth_image_corpus, "9243982c04be17eb94643579b3677c42",
              ["bmp", "gif", "jpeg", "png"]),
    "video": (mm.synth_video_corpus, "56a7462a214772b047eae86d00a104e6",
              ["avi", "mp4"]),
    "bmp_pixel": (mm.synth_bmp_pixel_corpus,
                  "08f116996363938e9c3a4d84bc232081", ["bmp"]),
    "png_pixel": (mm.synth_png_pixel_corpus,
                  "c074a8705ed5a574dd990879f7867878", ["png"]),
    "png_interlaced": (mm.synth_png_interlaced_corpus,
                       "ce73fb052b863f50c59d5b19c00e1720", ["png"]),
    "png_palette": (mm.synth_png_palette_corpus,
                    "71f51517fa18689bf06d8d5d557cdcce", ["png"]),
    "gif_pixel": (mm.synth_gif_pixel_corpus,
                  "cc5fb2d2bdb950abaa2ccde986177dc6", ["image/gif"]),
    "gif_pixel_interlaced": (
        lambda d: mm.synth_gif_pixel_corpus(d, interlaced=True),
        "9c0bad07b4ccec310194d13c711a4980", ["image/gif"]),
    "mjpg_avi": (mm.synth_mjpg_avi_corpus,
                 "c214b2e72c2ff9115e7183797284febb", ["video/avi"]),
    "jpeg_pixel": (mm.synth_jpeg_pixel_corpus,
                   "a7553b2083062e0bf32100b7f1e6cd98", ["image/jpeg"]),
    "jpeg_restart": (mm.synth_jpeg_restart_corpus,
                     "df50077f2974f7e4039fb804d6099181", ["image/jpeg"]),
    "jpeg_subsampled": (mm.synth_jpeg_subsampled_corpus,
                        "f24d04322d7fa013c63c922acf08cbe6", ["image/jpeg"]),
    "avi_frame": (mm.synth_avi_frame_corpus,
                  "40f62f06aa7ba4e19f5e64a9caecba9b", ["video/avi"]),
    "mp4_frame": (mm.synth_mp4_frame_corpus,
                  "953ce3625ba2fb7ab84f27c07960d730", ["video/mp4"]),
    "wav": (mm.synth_wav_corpus, "5d3284afda253d04f2286cd644aa3471", ["wav"]),
    "gif_frames": (mm.synth_gif_corpus,
                   "6c735abc122f2ee25263ffbb1e20e5ca", ["image/gif"]),
}


@pytest.fixture(scope="module")
def doc_ids(spark):
    return spark.range(256).select(
        F.col("id").alias("doc_id"), F.lit("synthetic").alias("source")
    )


@pytest.mark.parametrize("name", list(CORPORA))
def test_corpus_bytes_are_pinned(doc_ids, name):
    build, md5, media_types = CORPORA[name]
    df = build(doc_ids)
    assert df.columns == ["media_id", "content", "media_type", "source"]
    rows = sorted(
        df.select("media_id", "content", "media_type").collect(),
        key=lambda r: r.media_id,
    )
    assert [r.media_id for r in rows] == list(range(256))
    blob = b"".join(bytes(r.content) for r in rows)
    assert hashlib.md5(blob).hexdigest() == md5
    assert sorted({r.media_type for r in rows}) == media_types
