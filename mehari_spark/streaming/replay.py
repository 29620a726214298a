"""Deterministic replay input writer for file-source streams.

FileStreamSource orders files by MODIFICATION TIME with arbitrary ties,
so a directory of part-files written in one shot has no guaranteed
arrival order — and the keep-first dedup operators' batch-equality
contract assumes monotone doc_id arrival (neardup_stream.py module
docstring). ``write_arrival_chunk`` makes replays reproducible: each
call coalesces one ingest wave into a SINGLE sequentially-named parquet
file (``chunk-%08d.parquet``), so both the name order and the
modification-time order equal the call order, and every wave lands in
its own trigger under ``maxFilesPerTrigger=1``.

This is a TEST/REPLAY harness utility — production streams read from a
queue or table commit log where arrival order is the log order.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame

from ..plans.commit import publish_file


def write_arrival_chunk(df: DataFrame, input_dir: str) -> str:
    """Append ``df`` as the next sequentially-named single-file chunk of
    ``input_dir``; returns the file path. Chunk index continues from the
    highest existing chunk."""
    existing = sorted(glob.glob(os.path.join(input_dir, "chunk-*.parquet")))
    nxt = 0
    if existing:
        last = os.path.basename(existing[-1])
        nxt = int(last[len("chunk-") : -len(".parquet")]) + 1
    return publish_file(df, os.path.join(input_dir, f"chunk-{nxt:08d}.parquet"))
