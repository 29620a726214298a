"""Round-4 hygiene fixes (VERDICT r3 'what's wrong' + ADVICE items):

- WAV parser soft-fail on odd data length / truncated fmt chunk
- finalize_stream leaves the input dataset unmutated
- AC cache true-LRU eviction
- scale guards on the exact-baseline quadratic twins
- decode_features n_bytes computed JVM-side (still correct)
"""

from __future__ import annotations

import glob
import os
import struct

import pytest
from pyspark.sql import functions as F


class TestWavSoftFail:
    """ADVICE (medium): malformed payloads must yield kind='corrupt', never
    a task-killing exception (multimodal.py _parse_wav contract)."""

    def _wav_with_odd_data(self) -> bytes:
        from mehari_spark.operators.multimodal import synth_wav_bytes

        buf = bytearray(synth_wav_bytes(2))
        # find the data chunk and shrink its declared+actual size by 1 byte
        pos = 12
        while pos + 8 <= len(buf):
            cid = bytes(buf[pos : pos + 4])
            (size,) = struct.unpack("<I", buf[pos + 4 : pos + 8])
            if cid == b"data":
                buf[pos + 4 : pos + 8] = struct.pack("<I", size - 1)
                del buf[-1]
                break
            pos += 8 + size + (size % 2)
        return bytes(buf)

    def _wav_with_truncated_fmt(self) -> bytes:
        # fmt chunk DECLARES 16 bytes but the file ends inside it
        hdr = (
            b"RIFF" + struct.pack("<I", 20) + b"WAVE"
            b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x01\x00"
        )
        return hdr + b"\x00" * 30  # >=44 total so the length gate passes

    def test_parse_wav_returns_none_not_raise(self):
        from mehari_spark.operators.multimodal import _parse_wav

        assert _parse_wav(self._wav_with_odd_data()) is None
        assert _parse_wav(self._wav_with_truncated_fmt()) is None

    def test_decode_media_emits_corrupt_rows(self, spark):
        from mehari_spark.operators.multimodal import decode_media, synth_wav_bytes

        media = spark.createDataFrame(
            [
                (1, "audio", bytearray(self._wav_with_odd_data())),
                (2, "audio", bytearray(self._wav_with_truncated_fmt())),
                (3, "audio", bytearray(synth_wav_bytes(4))),
            ],
            "media_id long, kind string, payload binary",
        )
        got = {r.media_id: r.kind for r in decode_media(media).collect()}
        assert got == {1: "corrupt", 2: "corrupt", 3: "audio"}


class TestFinalizeLeavesSourceClean:
    """ADVICE: finalize_stream must not permanently mutate input_dir."""

    def test_input_dir_unchanged_after_finalize(self, spark, tmp_path):
        from datetime import datetime, timedelta

        from mehari_spark.streaming.sessions import (
            EVENTS_DDL,
            finalize_stream,
            stream_sessions,
        )

        base = datetime(2024, 3, 1, 12, 0, 0)
        rows = [
            (i, 1, "click", 1.0, "{}", base + timedelta(minutes=5 * i))
            for i in range(4)
        ]
        ev = spark.createDataFrame(rows, EVENTS_DDL)
        in_dir = str(tmp_path / "in")
        ev.write.mode("append").parquet(in_dir)
        files_before = set(glob.glob(os.path.join(in_dir, "**", "*"), recursive=True))
        max_ts_before = spark.read.parquet(in_dir).agg(F.max("ts")).first()[0]

        q = stream_sessions(
            spark,
            in_dir,
            str(tmp_path / "out"),
            str(tmp_path / "ck"),
            watermark="1 minutes",
        )
        q.processAllAvailable()
        finalize_stream(q, spark, in_dir)

        files_after = set(glob.glob(os.path.join(in_dir, "**", "*"), recursive=True))
        assert files_after == files_before  # sentinel part-files removed
        got = spark.read.parquet(in_dir)
        assert got.filter(F.col("user_id") < 0).count() == 0
        assert got.agg(F.max("ts")).first()[0] == max_ts_before


class TestAcCacheLru:
    def test_hot_entry_survives_eviction(self, spark):
        from mehari_spark.kernels.dictmatch import compile_table
        from mehari_spark.operators import mentions as m

        sc = spark.sparkContext
        app = sc.applicationId
        saved = dict(m._TABLE_CACHE)
        m._TABLE_CACHE.clear()
        try:
            for key in ("a", "b", "c", "d"):
                m._TABLE_CACHE[(app, key)] = sc.broadcast(compile_table([]))
            # touch 'a' (the insertion-order victim) -> now most recent
            assert m._match_table(sc, "a", []) is m._TABLE_CACHE[(app, "a")]
            m._match_table(sc, "e", [])  # triggers eviction at MAX=4
            assert (app, "a") in m._TABLE_CACHE  # LRU keeps the hot entry
            assert (app, "b") not in m._TABLE_CACHE  # true least-recently-used evicted
        finally:
            m._TABLE_CACHE.clear()
            m._TABLE_CACHE.update(saved)


class TestScaleGuards:
    def test_ngram_jaccard_pairs_refuses_big_corpus(self, spark):
        from mehari_spark.operators.dedup import ngram_jaccard_pairs

        docs = spark.createDataFrame(
            [(i, "en", "w x y z") for i in range(5)],
            "doc_id long, lang string, text string",
        )
        with pytest.raises(ValueError, match="minhash_lsh_pairs"):
            ngram_jaccard_pairs(docs, max_docs=3).collect()
        # under the cap it still works
        assert ngram_jaccard_pairs(docs, max_docs=10).count() > 0


class TestSharedStageCache:
    def test_minhash_pairs_stage_reused_and_clearable(self, spark):
        from mehari_spark.plans.queries import _minhash_pairs_stage
        from mehari_spark.plans.stagecache import _CACHE, clear_shared_stages

        clear_shared_stages()
        sf = "/root/testdata/sf0.001"
        a = _minhash_pairs_stage(spark, sf)
        b = _minhash_pairs_stage(spark, sf)
        assert a is b  # second consumer reuses the persisted stage
        assert a.storageLevel.useMemory  # actually persisted
        n = a.count()
        assert n > 0
        clear_shared_stages()
        assert not _CACHE
        c = _minhash_pairs_stage(spark, sf)
        assert c is not a and c.count() == n  # cold rebuild, same result

    def test_equal_plans_built_twice_share_one_build(self, spark):
        from mehari_spark.plans.stagecache import (
            _CACHE,
            clear_shared_stages,
            materialize_once,
        )

        clear_shared_stages()
        builds = []

        def stage(src):
            return materialize_once(
                spark, ("probe", src), lambda: builds.append(src) or src.select("id")
            )

        a = stage(spark.range(40).where("id % 3 = 0"))
        b = stage(spark.range(40).where("id % 3 = 0"))
        assert a is b and len(builds) == 1 and len(_CACHE) == 1
        clear_shared_stages()

    def test_colliding_hashes_give_distinct_stages(self, spark, monkeypatch):
        from mehari_spark.plans.stagecache import clear_shared_stages, materialize_once

        clear_shared_stages()
        x = spark.range(10).where("id < 3")
        y = spark.range(10).where("id >= 7")
        monkeypatch.setattr(type(x), "semanticHash", lambda self: 7)
        sx = materialize_once(spark, ("probe", x), lambda: x)
        sy = materialize_once(spark, ("probe", y), lambda: y)
        assert sx is not sy
        assert sorted(r.id for r in sy.collect()) == [7, 8, 9]
        clear_shared_stages()


class TestDecodeFeaturesNBytes:
    def test_n_bytes_matches_payload_length(self, spark):
        from mehari_spark.operators.multimodal import decode_features

        media = spark.createDataFrame(
            [(1, "image", bytearray(b"abc")), (2, "audio", None)],
            "media_id long, kind string, payload binary",
        )
        got = {r.media_id: r.n_bytes for r in decode_features(media).collect()}
        assert got == {1: 3, 2: 0}
