"""Streaming twins of the batch pipeline.

The reference is a batch engine (SURVEY.md §2.9) and so is our primary
pipeline; these modules serve continuous ingest deployments. Every stream
runs on the one epoch runner, which owns the file source, foreachBatch,
the checkpoint, exactly-once epochs and the per-epoch metrics rows; a
stream keeps its source DDL, state function and per-epoch write.
``jobs/run_stream_job.py`` runs any of them under spark-submit.

- epochs.py             — the epoch runner
- kg_stream.py          — transcripts -> fused triple extraction -> MERGE
                          into the bucketed triple table + incremental views
- dedup_stream.py       — keep-first exact dedup (content-hash state)
- neardup_stream.py     — keep-first MinHash-LSH near-dup dedup
- ingest_pipeline.py    — quality gate -> exact -> near-dup, chained
                          through storage
- spandedup_stream.py   — shared-span dedup against an accumulated index
- sessions.py           — watermarked session windows over events
- replay.py             — deterministic arrival-order input writer
"""
