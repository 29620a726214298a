"""Explicit StructType schemas for every table in the engine.

Mehari fixes its schemas in protobuf (/root/reference/mehari/protos/mehari/txs.proto)
and a negotiated VCF header; we fix them here in one module (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# primary input (BASELINE.json input_hint) — the VCF-record analog
TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# entity dictionary — the TxSeqDatabase analog (txs.proto:148-171)
ENTITY_DICT_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.LongType(), False),
        T.StructField("canonical", T.StringType(), False),
        T.StructField("aliases", T.ArrayType(T.StringType()), False),
        T.StructField("type", T.StringType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("filtered", T.BooleanType(), True),
        T.StructField("filter_reason", T.IntegerType(), True),
    ]
)

# predicate ontology — the SO-term/severity analog (terms.rs:78-397)
PREDICATE_ONTOLOGY_SCHEMA = T.StructType(
    [
        T.StructField("pred_id", T.LongType(), False),
        T.StructField("canonical", T.StringType(), False),
        T.StructField("surface_forms", T.ArrayType(T.StringType()), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("rewrite_to", T.LongType(), True),
    ]
)

# mention rows emitted by the dictionary-matching mapInArrow scan
MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),  # 'E' entity | 'P' predicate
        T.StructField("ref_id", T.LongType(), False),  # entity_id or raw pred_id
        T.StructField("canon_id", T.LongType(), False),  # post-rewrite id
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("pos", T.IntegerType(), False),  # token position in turn
        T.StructField("tok_len", T.IntegerType(), False),
        T.StructField("char_start", T.IntegerType(), False),
        T.StructField("char_end", T.IntegerType(), False),
    ]
)
MENTIONS_DDL = (
    "conv_id string, turn_idx int, kind string, ref_id long, canon_id long, "
    "rank int, pos int, tok_len int, char_start int, char_end int"
)

# the AnnField analog (terms.rs:943-1028): one row per extracted triple
TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("subj_id", T.LongType(), False),
        T.StructField("pred_id", T.LongType(), False),
        T.StructField("obj_id", T.LongType(), False),
        T.StructField("pred_pos", T.IntegerType(), True),
        T.StructField("score", T.DoubleType(), True),
        T.StructField(
            "lineage",
            T.StructType(
                [
                    T.StructField("run_id", T.StringType(), True),
                    T.StructField("stage", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

# per-partition checkpoint rows (report.jsonl analog, create/mod.rs:137-241)
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("stage", T.StringType(), True),
        T.StructField("committed_at", T.TimestampType(), True),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), True),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)
