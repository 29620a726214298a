"""Expression helpers: hierarchical range binning."""

from __future__ import annotations

from pyspark.sql import functions as F

from mehari_spark.functions.expressions import hier_bin


class TestExpressions:
    def test_hier_bin_small_range_same_bin(self, spark):
        df = spark.createDataFrame(
            [(0, 100), (131072, 131073), (0, 131072), (0, 2**29)],
            "s long, e long",
        )
        out = [r.b for r in df.select(hier_bin(F.col("s"), F.col("e")).alias("b")).collect()]
        # [0,100) fits the first 128k bin => 585; [0,131072) also level0 bin 585
        assert out[0] == 585
        assert out[1] == 586  # second 128k bin
        assert out[2] == 585
        assert out[3] == 0  # full span -> top bin
        # containment property: bin of [s,e) equals bin of [s,s+1) when e
        # stays inside the same 128k window
        assert out[0] == out[2]
