"""One partition of a pipeline call, written in one pass: its triples, its
coreference clusters and its subject counts.

The input is a partition of triple rows that holds whole conversations
(the caller shuffles on ``conv_id``), tagged with two int columns:

- ``_tb``: the row's triples bucket when the row must be written, null
  when that bucket is already committed (the row then only feeds coref
  and the counts);
- ``_eb``: the conversation's entity bucket when its clusters must be
  written, null when that bucket is already committed.

``stage_partition`` streams each batch's rows to one parquet writer per
triples bucket, buffers only the narrow ``(conv_id, least, greatest)``
edge columns, runs the ``components`` kernel over them once the input is
done, writes the entity rows per entity bucket, and writes the partial
``subj_id`` counts. Every file lands under a directory named after the
task attempt, and the kernel returns a manifest of them: the driver
publishes exactly the files that the manifests of the successful attempts
list (``plans/pipeline.py``), so a failed or duplicate attempt's files are
never published. Nothing here touches Spark; mehari's annotate writes each
record once, in one pass, in the same way (SURVEY.md §3.1).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable, Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .components import CLUSTER_SCHEMA, components

MANIFEST_DDL = (
    "task string, table string, bucket int, path string, rows long, seconds double"
)

MANIFEST_SCHEMA = pa.schema(
    [
        ("task", pa.string()),
        ("table", pa.string()),
        ("bucket", pa.int32()),
        ("path", pa.string()),
        ("rows", pa.int64()),
        ("seconds", pa.float64()),
    ]
)
# the footer key under which Spark records a file's schema; with it Spark
# reads a pyarrow-written file back with the types Spark itself would write
SPARK_SCHEMA_KEY = "org.apache.spark.sql.parquet.row.metadata"
FREQ_SCHEMA = pa.schema(
    [pa.field("subj_id", pa.int64()), pa.field("subj_freq", pa.int64(), nullable=False)]
)


@dataclass(frozen=True)
class Staging:
    """Where one call's kernel writes, and what. A table whose staging root
    is None has nothing left to write."""

    triples: str | None
    entities: str | None
    freq: str | None
    columns: tuple[str, ...]  # the triples columns, in written order
    spark_schemas: dict  # table -> Spark schema JSON for SPARK_SCHEMA_KEY


def task_file(root: str, task: str, bucket: int | None = None) -> str:
    """The path of attempt ``task``'s file for ``bucket`` under ``root``."""
    sub = "_part" if bucket is None else f"_bucket={bucket}"
    return os.path.join(root, f"_task={task}", sub, f"part-{task}.parquet")


# rows a bucket file buffers before it writes them as one row group; a
# bucket file of fewer rows is one row group, as Spark's writer makes it
ROW_GROUP_ROWS = 1 << 20


class _BucketFile:
    """One bucket's parquet file. Its rows are buffered and written at most
    ``ROW_GROUP_ROWS`` to a row group."""

    def __init__(self, path: str, schema: pa.Schema) -> None:
        self.writer = pq.ParquetWriter(path, schema)
        self.path, self.rows, self.seconds = path, 0, 0.0
        self.pending: list[pa.Table] = []
        self.pending_rows = 0

    def write(self, rows: pa.Table) -> None:
        if self.pending_rows + rows.num_rows > ROW_GROUP_ROWS:
            self.flush()
        self.pending.append(rows)
        self.pending_rows += rows.num_rows
        self.rows += rows.num_rows

    def flush(self) -> None:
        if self.pending:
            self.writer.write_table(pa.concat_tables(self.pending), ROW_GROUP_ROWS)
            self.pending, self.pending_rows = [], 0


class _BucketWriters:
    """One ``_BucketFile`` per bucket of one table, opened at the bucket's
    first rows."""

    def __init__(self, table: str, root: str, task: str, spark_schema: str) -> None:
        self.table, self.root, self.task = table, root, task
        self.meta = {SPARK_SCHEMA_KEY: spark_schema}
        self.open: dict[int | None, _BucketFile] = {}

    def write(self, bucket: int | None, rows: pa.RecordBatch | pa.Table) -> None:
        t0 = time.perf_counter()
        f = self.open.get(bucket)
        if f is None:
            path = task_file(self.root, self.task, bucket)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            f = self.open[bucket] = _BucketFile(path, rows.schema.with_metadata(self.meta))
        if isinstance(rows, pa.RecordBatch):
            rows = pa.Table.from_batches([rows])
        f.write(rows)
        f.seconds += time.perf_counter() - t0

    def close(self) -> list[tuple]:
        """Close every open writer; -> one manifest row per file."""
        out = []
        while self.open:
            bucket, f = self.open.popitem()
            t0 = time.perf_counter()
            f.flush()
            f.writer.close()
            f.seconds += time.perf_counter() - t0
            out.append((self.task, self.table, bucket, f.path, f.rows, f.seconds))
        return out


def _ints(col: pa.Array) -> np.ndarray:
    """An int tag column as numpy, with -1 for null."""
    return pc.fill_null(col, -1).to_numpy(zero_copy_only=False)


def by_bucket(buckets: np.ndarray) -> Iterable[tuple[int, np.ndarray]]:
    """(bucket, row indices) for each distinct non-negative value."""
    if not len(buckets):
        return
    order = np.argsort(buckets, kind="stable")
    ordered = buckets[order]
    starts = np.flatnonzero(np.r_[True, ordered[1:] != ordered[:-1]])
    ends = np.r_[starts[1:], len(ordered)]
    for s, e in zip(starts, ends):
        if ordered[s] >= 0:
            yield int(ordered[s]), order[s:e]


def stage_partition(
    batches: Iterable[pa.RecordBatch], staging: Staging, task: str
) -> pa.RecordBatch:
    """Write one partition's uncommitted buckets as attempt ``task`` and
    return its manifest, one ``MANIFEST_DDL`` row per file plus one
    ``coref`` row (its edge count and seconds)."""
    opened: list[_BucketWriters] = []

    def writers(table: str, root: str) -> _BucketWriters:
        opened.append(_BucketWriters(table, root, task, staging.spark_schemas[table]))
        return opened[-1]

    try:
        return _stage(batches, staging, task, writers)
    finally:  # a failed attempt still closes its files
        for w in opened:
            w.close()


def _stage(
    batches: Iterable[pa.RecordBatch],
    staging: Staging,
    task: str,
    writers: Callable[[str, str], _BucketWriters],
) -> pa.RecordBatch:
    names = list(staging.columns)
    triples = writers("triples", staging.triples) if staging.triples else None
    convs, srcs, dsts, ebs, counts = [], [], [], [], []
    for batch in batches:
        if not batch.num_rows:
            continue
        if triples is not None:
            tb = _ints(batch.column("_tb"))
            rows = batch.select(names)
            for b, idx in by_bucket(tb):
                triples.write(b, rows.take(idx))
        subj = batch.column("subj_id")
        if staging.entities:
            s = subj.to_numpy(zero_copy_only=False)
            o = batch.column("obj_id").to_numpy(zero_copy_only=False)
            eb = _ints(batch.column("_eb"))
            keep = (eb >= 0) & (s != o)
            conv = batch.column("conv_id").filter(pa.array(keep))
            convs.append(conv.cast(pa.string()))
            srcs.append(np.minimum(s, o)[keep])
            dsts.append(np.maximum(s, o)[keep])
            ebs.append(eb[keep])
        if staging.freq:
            counts.append(pc.value_counts(subj))

    manifest = triples.close() if triples is not None else []
    if staging.entities:
        t0 = time.perf_counter()
        conv = pa.concat_arrays(convs) if convs else pa.array([], pa.string())
        enc = pc.dictionary_encode(conv, null_encoding="encode")
        group = enc.indices.to_numpy(zero_copy_only=False)
        src = np.concatenate(srcs) if srcs else np.empty(0, np.int64)
        dst = np.concatenate(dsts) if dsts else np.empty(0, np.int64)
        node_group, node, label = components(group, src, dst)
        bucket_of = np.empty(len(enc.dictionary), np.int64)
        bucket_of[group] = np.concatenate(ebs) if ebs else []
        clusters = pa.RecordBatch.from_arrays(
            [enc.dictionary.take(node_group), node, label], schema=CLUSTER_SCHEMA
        )
        manifest.append((task, "coref", None, None, len(src), time.perf_counter() - t0))
        entities = writers("entities", staging.entities)
        for b, idx in by_bucket(bucket_of[node_group]):
            entities.write(b, clusters.take(idx))
        manifest += entities.close()
    if staging.freq and counts:
        vc = pa.concat_arrays(counts)
        partial = (
            pa.table({"subj_id": vc.field("values"), "n": vc.field("counts")})
            .group_by("subj_id")
            .aggregate([("n", "sum")])
        )
        freq = writers("freq_kb", staging.freq)
        cols = [partial["subj_id"], partial["n_sum"]]
        freq.write(None, pa.table(cols, schema=FREQ_SCHEMA))
        manifest += freq.close()
    return pa.RecordBatch.from_pylist(
        [dict(zip(MANIFEST_SCHEMA.names, m)) for m in manifest], schema=MANIFEST_SCHEMA
    )
