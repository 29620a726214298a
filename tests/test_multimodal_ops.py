"""Multimodal plumbing beyond decode: frame sampling (long-format explode)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mehari_spark.operators.multimodal import frame_sample, synth_media


def _media(spark):
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 10, "en") for i in range(9)],
        "doc_id long, text string, lang string",
    )
    return synth_media(docs)


class TestFrameSample:
    def test_long_format_per_frame(self, spark):
        media = _media(spark)
        out = frame_sample(media, n_frames=4, frame_bytes=16).collect()
        vids = {r.media_id for r in media.filter(F.col("kind") == "video").collect()}
        assert {r.media_id for r in out} == vids
        by_vid = {}
        for r in out:
            by_vid.setdefault(r.media_id, []).append(r)
        for mid, frames in by_vid.items():
            assert sorted(f.frame_idx for f in frames) == list(range(len(frames)))
            assert all(len(f.frame) <= 16 for f in frames)
            # frames are slices at the recorded offsets (deterministic fake)
            offs = [f.offset for f in sorted(frames, key=lambda x: x.frame_idx)]
            assert offs == sorted(offs)

    def test_deterministic(self, spark):
        media = _media(spark)
        a = sorted(map(tuple, frame_sample(media).collect()))
        b = sorted(map(tuple, frame_sample(media).collect()))
        assert a == b

    def test_real_codec_path_is_honest(self, spark):
        with pytest.raises(Exception, match="codecs not available"):
            frame_sample(_media(spark), fake=False).collect()

