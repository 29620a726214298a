"""Verify-join classification (J11)."""

from __future__ import annotations

import pytest

from mehari_spark.operators.verify_join import classify_triples, verify_summary


class TestVerifyJoin:
    def test_classification(self, spark):
        got = spark.createDataFrame(
            [("c", 0, 1, 101, 2), ("c", 1, 1, 103, 2), ("c", 2, 9, 101, 9)],
            "conv_id string, turn_idx int, subj_id long, pred_id long, obj_id long",
        )
        exp = spark.createDataFrame(
            [("c", 0, 1, 101, 2), ("c", 1, 1, 104, 2), ("c", 3, 5, 101, 6)],
            "conv_id string, turn_idx int, subj_id long, pred_id long, obj_id long",
        )
        by_status = {
            r.status: 1 for r in classify_triples(got, exp).collect()
        }
        assert set(by_status) == {"ok", "pred_mismatch", "extra", "missing"}
        s = verify_summary(got, exp).first()
        assert (s.n_ok, s.n_pred_mismatch, s.n_missing, s.n_extra) == (1, 1, 1, 1)
        assert s.precision == pytest.approx(1 / 3)
        assert s.recall == pytest.approx(1 / 3)
