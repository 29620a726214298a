"""Structured Streaming triple extraction.

The fused per-turn kernel is stateless, so it lifts directly onto a
streaming DataFrame: ``readStream`` over the transcripts location →
``extract_triples_fused`` (mapInArrow is supported on streams) →
``foreachBatch`` with epoch-keyed idempotent writes for exactly-once.

Cross-turn coreference is windowed-stateful and stays in the batch pipeline
(mehari's compound buffering is likewise a batch-side concern,
compound.rs:33-170); a production deployment runs coref as a periodic batch
compaction over the streamed triples table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..dictionary import DictPattern
from ..operators.triples import extract_triples_fused
from ..schemas import TRANSCRIPTS_SCHEMA


def write_epoch(batch_df: DataFrame, epoch_id: int, output_dir: str) -> None:
    """Idempotent epoch write: each micro-batch lands in its own
    ``epoch=<id>`` subdirectory with mode('overwrite').

    This is what makes the sink exactly-once rather than at-least-once: if
    the driver dies AFTER a blind append but BEFORE the epoch commits to
    checkpointLocation, the retried epoch would re-append and duplicate
    rows. Keyed on epoch_id, the retry overwrites the partial/complete
    previous attempt instead (the Iceberg/Delta idempotent-commit analog;
    same discipline as the batch path's per-bucket rename commits,
    plans/lineage.py)."""
    batch_df.write.mode("overwrite").parquet(
        os.path.join(output_dir, f"epoch={epoch_id}")
    )


def stream_triples(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    patterns: list[DictPattern],
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """Start a streaming query: transcripts parquet dir -> triples parquet.

    Exactly-once end-to-end: checkpointLocation tracks committed source
    files (no reprocessing after restart) and ``write_epoch`` makes the sink
    idempotent per epoch (no duplicates when a crashed epoch is retried).
    Read the output with ``spark.read.parquet(f"{output_dir}/epoch=*")``.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )
    triples = extract_triples_fused(stream, patterns)

    return (
        triples.writeStream.outputMode("append")
        .foreachBatch(lambda df, eid: write_epoch(df, eid, output_dir))
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
