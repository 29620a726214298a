"""Reusable column expressions.

Analogs of mehari's scalar kernels (SURVEY.md §2.8), kept as Catalyst
expressions so they stay inside whole-stage codegen:

- ``hier_bin`` — UCSC-style hierarchical range binning
  (annotate/seqvars/binning.rs:13-26): the smallest bin fully containing
  [start, end), used to co-locate range queries without an interval index.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# UCSC binning constants: offsets for 128k/1M/8M/64M/512M levels
_BIN_OFFSETS = (585, 73, 9, 1, 0)
_BIN_FIRST_SHIFT = 17
_BIN_NEXT_SHIFT = 3


def hier_bin(start: Column, end: Column) -> Column:
    """Smallest hierarchical bin containing [start, end) (UCSC scheme)."""
    result = F.lit(None).cast("long")
    for level, offset in enumerate(_BIN_OFFSETS):
        shift = _BIN_FIRST_SHIFT + level * _BIN_NEXT_SHIFT
        s = F.shiftright(start.cast("long"), shift)
        e = F.shiftright(end.cast("long") - 1, shift)
        result = F.when(
            result.isNull() & (s == e), F.lit(offset).cast("long") + s
        ).otherwise(result)
    return F.coalesce(result, F.lit(0).cast("long"))

