"""Round-7 fixes and operators: commit-log compaction policy, curation
edge-case guards (ADVICE r6), and the new operator tier."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from mehari_spark.plans.commit import append as append_checkpoint
from mehari_spark.plans.commit import compact_log as compact_checkpoint_log
from mehari_spark.plans.lineage import _ckpt_path, load_committed
from mehari_spark.streaming.kg_stream import applied_epochs


class TestCompactCheckpointLog:
    def _seed_log(self, d: str, n_epochs: int = 1000) -> None:
        # merge-style traffic: staged + committed per bucket per epoch,
        # then the epoch_done audit row — the always-on growth pattern
        for e in range(n_epochs):
            b = e % 8
            append_checkpoint(
                d,
                {
                    "run_id": f"epoch-{e}",
                    "bucket": b,
                    "status": "staged",
                    "stage": "merge",
                    "n_buckets": 8,
                    "key_col": "subj_id",
                },
            )
            append_checkpoint(
                d,
                {
                    "run_id": f"epoch-{e}",
                    "bucket": b,
                    "status": "committed",
                    "rows_out": 10 + e,
                    "stage": "merge",
                    "n_buckets": 8,
                    "key_col": "subj_id",
                },
            )
            append_checkpoint(
                d,
                {
                    "status": "epoch_done",
                    "stage": "kg_stream",
                    "scope": "/ck",
                    "epoch": e,
                },
            )

    def test_thousand_epochs_compact_to_bounded_log(self, tmp_path):
        d = str(tmp_path / "t")
        self._seed_log(d, 1000)
        before_epochs = applied_epochs(d, "/ck")
        before_committed = load_committed(d, n_buckets=8, key_col="subj_id")
        res = compact_checkpoint_log(d)
        assert res["rows_before"] == 3000
        # 8 latest-committed rows + 1 watermark: O(buckets+scopes), not O(age)
        assert res["rows_after"] == 9
        assert applied_epochs(d, "/ck") == before_epochs == set(range(1000))
        assert load_committed(d, n_buckets=8, key_col="subj_id") == before_committed
        # idempotent
        res2 = compact_checkpoint_log(d)
        assert res2["rows_after"] == res2["rows_before"] == 9

    def test_gap_unknown_and_inflight_rows_survive(self, tmp_path):
        d = str(tmp_path / "t")
        # epoch gap: 0,1,3 -> watermark 1 + verbatim row for 3
        for e in (0, 1, 3):
            append_checkpoint(
                d,
                {"status": "epoch_done", "stage": "kg_stream", "scope": "/a", "epoch": e},
            )
        # second scope, independent watermark
        append_checkpoint(
            d,
            {"status": "epoch_done", "stage": "kg_stream", "scope": "/b", "epoch": 0},
        )
        # trailing staged row with NO later committed cover: possibly in-flight
        append_checkpoint(
            d,
            {"run_id": "r9", "bucket": 5, "status": "staged", "stage": "merge"},
        )
        # unknown status: kept verbatim
        append_checkpoint(d, {"status": "compacted", "bucket": 2, "stage": "compact"})
        compact_checkpoint_log(d)
        with open(_ckpt_path(d)) as f:
            recs = [json.loads(line) for line in f]
        statuses = sorted(r["status"] for r in recs)
        assert statuses == [
            "compacted",
            "epoch_done",
            "epoch_watermark",
            "epoch_watermark",
            "staged",
        ]
        assert applied_epochs(d, "/a") == {0, 1, 3}
        assert applied_epochs(d, "/b") == {0}

    def test_compact_missing_log_is_noop(self, tmp_path):
        res = compact_checkpoint_log(str(tmp_path / "nope"))
        assert res == {"rows_before": 0, "rows_after": 0}


class TestCurationAdviceFixes:
    def test_shard_packing_empty_input(self, spark):
        """ADVICE r6: bucket_span=None on an empty corpus must return an
        empty result, not TypeError on int(None)."""
        from mehari_spark.operators.curation import shard_packing

        empty = spark.createDataFrame(
            [], "doc_id long, lang string, text string"
        )
        assert shard_packing(empty).count() == 0

    def test_frac_hex_ceiling_clamped(self):
        """ADVICE r6: a fractional part rounding to 1.0 must emit an
        8-char threshold keeping ~everything, not a 9-char literal that
        string-compare keeps only '0'-prefixed hashes (~6%)."""
        from mehari_spark.operators.curation import _frac_hex

        t = _frac_hex(1 - 1e-12)
        assert len(t) == 8 and t == "ffffffff"
        assert _frac_hex(0.0) == "00000000"
        # keep rate under the clamped threshold is ~1, not ~1/16
        kept = sum(1 for i in range(1000) if format(i, "08x") < t)
        assert kept == 1000

    def test_mixture_sample_near_one_fraction(self, spark):
        """End-to-end: weight 1.9999999999999 must keep ~2 epochs worth,
        not 1 + ~6% of the second."""
        from mehari_spark.operators.curation import mixture_sample

        docs = spark.createDataFrame(
            [(i, "en") for i in range(200)], "doc_id long, lang string"
        )
        out = mixture_sample(docs, {"en": 1.9999999999999})
        n = out.count()
        assert n >= 395  # ~400; only the all-f md5 prefix can drop
