"""Mention detection: the dictionary-matching kernel inside ``mapInArrow``.

This is the engine's hot path and the direct analog of mehari's
variant-x-transcript interval join (provider.rs:795-843) as executed through
the Arrow batch API (mehari-python/src/lib.rs:297-380): the dictionary is
compiled once on the driver into a ``kernels.dictmatch.MatchTable`` and
broadcast once per dictionary version (a driver cache keyed by the
dictionary's content — mehari loads its database once and shares it,
db/mod.rs:357-375), and each Arrow batch of turns is matched in one call
with no per-row Python. ``text`` stays Arrow end to end; no shuffle —
mention detection is a narrow transformation over the transcripts scan.
``extract_triples_fused`` runs the same kernel.

Scale notes (100 TB): the only data movement is the parquet scan itself;
column pruning keeps the scan to (conv_id, turn_idx, text); the output is
narrow (ids + positions) so the expensive `text` column is dropped before
any wide stage.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark import Broadcast, SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dictionary import DictPattern
from ..kernels.dictmatch import MatchTable, compile_table, mention_batch
from ..schemas import MENTIONS_DDL

# driver-side cache of match-table broadcasts: one broadcast of the table,
# compiled once on the driver, per dictionary version. Keyed by
# (applicationId, CONTENT fingerprint of the pattern list), so re-running a
# query or a stream epoch with the same dictionary reuses the broadcast —
# and a Python worker unpickles a broadcast id once in its lifetime —
# instead of shipping the pattern list and recompiling per invocation;
# bounded so abandoned dictionary versions don't accumulate.
_TABLE_CACHE: dict[tuple[str, str], Broadcast] = {}
_TABLE_CACHE_MAX = 4
_TABLE_BUILDS = 0  # diagnostic: table compilations + broadcasts
_TABLE_HITS = 0  # diagnostic: cache hits (reused broadcasts)


def dict_fingerprint(patterns: list[DictPattern]) -> str:
    """Stable content hash of a pattern list — the dictionary VERSION key.

    Two calls with equal dictionaries (same patterns, same order) share one
    compiled, broadcast table; any edit produces a new key."""
    import hashlib

    h = hashlib.sha1()
    for p in patterns:
        h.update(
            ("\x1f".join(p.tokens) + f"|{p.kind}|{p.ref_id}|{p.canon_id}|{p.rank}\x1e").encode()
        )
    return h.hexdigest()


def _match_table(
    sc: SparkContext, key: str, patterns: list[DictPattern]
) -> Broadcast:
    """The broadcast compiled table for dictionary version ``key``."""
    global _TABLE_BUILDS, _TABLE_HITS
    app_id = sc.applicationId
    bc = _TABLE_CACHE.pop((app_id, key), None)
    if bc is None:
        # a broadcast of a stopped context died with it: forget those first
        # (unpersisting would address the NEW context's broadcast ids)
        for k in [k for k in _TABLE_CACHE if k[0] != app_id]:
            del _TABLE_CACHE[k]
        bc = sc.broadcast(compile_table(patterns))
        _TABLE_BUILDS += 1
        while len(_TABLE_CACHE) >= _TABLE_CACHE_MAX:  # evict LEAST-RECENTLY-USED
            # unpersist, never destroy: a DataFrame built earlier may still
            # reference the evicted broadcast and re-fetch it from the driver
            _TABLE_CACHE.pop(next(iter(_TABLE_CACHE))).unpersist()
    else:
        _TABLE_HITS += 1
    # pop + reinsert on every access keeps dict order = recency order, so
    # the eviction above is true LRU (insertion-order eviction could evict
    # the HOTTEST table with >MAX live dictionary versions)
    _TABLE_CACHE[(app_id, key)] = bc
    return bc


def match_table_counters() -> dict[str, int]:
    """Driver-side table cache counters since process start."""
    return {"match_table_builds": _TABLE_BUILDS, "match_table_hits": _TABLE_HITS}


def match_turns(
    transcripts: DataFrame,
    patterns: list[DictPattern],
    kernel: Callable[[pa.RecordBatch, MatchTable], pa.RecordBatch],
    schema: str,
) -> DataFrame:
    """Run a ``kernels.dictmatch`` batch kernel over (conv_id, turn_idx,
    text) in ``mapInArrow`` against the dictionary's compiled table,
    broadcast once per dictionary version."""
    pattern_list = list(patterns)
    bc = _match_table(
        transcripts.sparkSession.sparkContext,
        dict_fingerprint(pattern_list),  # dictionary-version cache key
        pattern_list,
    )

    def run(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        table = bc.value
        for batch in batches:
            yield kernel(batch, table)

    # prune to the three needed columns BEFORE the UDF so the parquet scan
    # never materializes unused columns (ReadSchema stays narrow)
    narrow = transcripts.select("conv_id", "turn_idx", "text")
    return narrow.mapInArrow(run, schema=schema)


def detect_mentions(transcripts: DataFrame, patterns: list[DictPattern]) -> DataFrame:
    """transcripts -> mentions (MENTIONS_SCHEMA rows), one per dictionary
    hit, unresolved: overlapping and co-located matches are all kept."""
    return match_turns(transcripts, patterns, mention_batch, MENTIONS_DDL)


def resolve_overlaps(mentions: DataFrame) -> DataFrame:
    """Resolve overlapping ENTITY mentions (mehari's longest-transcript
    picking analog, logic.rs:452-513): at each start keep the longest match
    (lowest ref_id on ties), then drop mentions inside an earlier kept span.
    Predicate mentions all pass — each is a triple candidate, and the
    best-per-group dedup of assemble_triples picks the lowest rank among
    them (the worst-consequence rule). Single-token dictionaries with
    unique surfaces are unaffected."""
    from pyspark.sql import Window as W

    is_pred = F.col("kind") != "E"
    w = W.partitionBy("conv_id", "turn_idx", "kind", "pos").orderBy(
        F.desc("tok_len"), F.asc("ref_id")
    )
    m = (
        mentions.withColumn("rn", F.row_number().over(w))
        .filter(is_pred | (F.col("rn") == 1))
        .drop("rn")
    )
    w2 = W.partitionBy("conv_id", "turn_idx", "kind").orderBy("pos")
    prev_end = F.max(F.col("pos") + F.col("tok_len")).over(
        w2.rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        m.withColumn("prev_end", prev_end)
        .filter(
            is_pred
            | F.col("prev_end").isNull()
            | (F.col("pos") + F.col("tok_len") > F.col("prev_end"))
        )
        .drop("prev_end")
    )
