"""Session-scoped shared-stage cache: materialize an expensive intermediate
DataFrame once, reuse it across queries in the same SparkSession.

The production analog at 100 TB is a MATERIALIZED TABLE: a signature/pairs
stage written once (e.g. the MinHash band table) and read by every consumer
(pair mining, clustering, reporting) instead of each recomputing it from the
raw corpus. Within one interactive session, ``persist()`` + a keyed registry
is the same discipline without the write: the first consumer pays the
computation, later consumers start from the cached blocks.

Honesty contract for benchmarks: reuse WITHIN one logical pipeline run is
real stage sharing and is fair to measure; reuse ACROSS repetitions of the
same run would measure the cache, not the code — bench.py calls
``clear_shared_stages()`` between repetitions so every rep is cold.

``checkpoint``/``release`` are the one lineage cut of the round loops
(graph, coref) and the per-epoch stream stages: an eager
``localCheckpoint`` whose blocks are dropped once nothing reads them;
``release_taken`` drops every checkpoint a materialized result was
computed from.

Keys include the SparkContext applicationId: a cached DataFrame from a
stopped session is unusable, so entries from other app ids are evicted on
first access from a new session.

A key names its source frames themselves, e.g. ``("sym", triples)``: each
DataFrame element is stored as its ``semanticHash()``, so equal plans built
twice share one stage. That hash is 32 bits, so a hit is confirmed with
``sameSemantics`` against the source frames kept for the entry, and a
mismatch rebuilds the stage instead of returning another plan's rows.
"""

from __future__ import annotations

import contextlib
from typing import Callable, Iterator

from py4j.protocol import Py4JError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

_CACHE: dict[tuple, DataFrame] = {}
# the DataFrames named in each _CACHE key, for the sameSemantics check
_SOURCES: dict[tuple, list[DataFrame]] = {}
_MAX_ENTRIES = 4
_DISABLED = False


@contextlib.contextmanager
def cache_disabled() -> Iterator[None]:
    """Bypass the stage cache entirely: ``shared_stage`` builds inline,
    persisting nothing. Used by cold-plan metrics capture (bench.py
    --explain): a query whose shared stage is already persisted would
    otherwise report the InMemoryTableScan's 0 exchanges instead of the
    real cold exchange structure."""
    global _DISABLED
    prev = _DISABLED
    _DISABLED = True
    try:
        yield
    finally:
        _DISABLED = prev


def _evict(key: tuple) -> None:
    _SOURCES.pop(key, None)
    df = _CACHE.pop(key)
    try:
        df.unpersist()
    except Exception:
        pass  # session already stopped: nothing to release


def shared_stage(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Return the cached DataFrame for ``key`` or build + persist it.

    ``key`` identifies the stage CONTENT (stage name, input frames or
    paths, params) — the caller must include everything that changes the
    result."""
    if _DISABLED:
        return build()
    app_id = spark.sparkContext.applicationId
    sources = [k for k in key if isinstance(k, DataFrame)]
    full_key = (app_id, *(
        k.semanticHash() if isinstance(k, DataFrame) else k for k in key
    ))
    df = _CACHE.get(full_key)
    if df is not None and all(
        a.sameSemantics(b) for a, b in zip(sources, _SOURCES[full_key])
    ):
        return df
    if df is not None:  # a hash collision: another plan owns the slot
        _evict(full_key)
    # drop stale entries from previous sessions first
    for k in [k for k in _CACHE if k[0] != app_id]:
        _evict(k)
    while len(_CACHE) >= _MAX_ENTRIES:  # bounded: evict oldest
        _evict(next(iter(_CACHE)))
    df = build().persist(StorageLevel.MEMORY_AND_DISK)
    _CACHE[full_key] = df
    _SOURCES[full_key] = sources
    return df


def materialize_once(
    spark: SparkSession, key: tuple, build: Callable[[], DataFrame]
) -> DataFrame:
    """Compute-once materialization for a stage consumed by multiple plan
    branches (e.g. both sides of a band self-join), WITHOUT leaking blocks.

    Normal path: routes through the bounded ``shared_stage`` LRU — the
    persisted blocks are evicted (unpersisted) once 4 newer stages exist
    and on session change, so repeated query builds in a long-lived
    session (bench reps, session-scoped pytest) never accrete
    block-manager storage the way per-invocation ``localCheckpoint``
    blocks did. Because ``persist`` keeps lineage, an evicted stage a
    caller still references simply recomputes instead of failing.

    Under ``cache_disabled()`` (cold-plan metrics capture): falls back to
    a lazy ``localCheckpoint`` so captured plans keep the same
    materialize-once shape they are benchmarked with, rather than
    silently showing a double-compute the cached path never executes."""
    if _DISABLED:
        return build().localCheckpoint(eager=False)
    return shared_stage(spark, key, build)


def clear_shared_stages() -> None:
    """Unpersist and forget every cached stage (bench calls this between
    repetitions so measurements stay cold)."""
    for k in list(_CACHE):
        _evict(k)


def checkpoint(df: DataFrame, prev: DataFrame | None = None) -> DataFrame:
    """Eager localCheckpoint of ``df`` — cuts a round loop's lineage so plan
    size stays O(1) in the round count — releasing the blocks of the
    previous round's checkpoint ``prev``, which nothing references any
    more."""
    ckpt = df.localCheckpoint(eager=True)
    if prev is not None:
        release(prev)
    return ckpt


def release(ckpt: DataFrame) -> None:
    """Drop the blocks of the localCheckpoint ``ckpt``; a frame that is not
    one (a parquet read-back) or a stopped session is left alone.

    The blocks belong to the checkpointed RDD under ``ckpt``'s LogicalRDD
    plan; ``ckpt.rdd`` would be a fresh Python-side RDD over them whose
    ``unpersist`` releases nothing."""
    with contextlib.suppress(Py4JError):
        ckpt._jdf.queryExecution().logical().rdd().unpersist(False)


def release_taken(result: DataFrame, inputs: DataFrame) -> None:
    """Release the localCheckpoints at the leaves of ``result``'s plan that
    are not at the leaves of ``inputs``': the ones taken on the way to a
    result that has since been materialized on its own."""

    def checkpoints(df: DataFrame) -> dict:
        leaves = df._jdf.queryExecution().logical().collectLeaves()
        nodes = [leaves.apply(i) for i in range(leaves.size())]
        return {n.rdd().id(): n.rdd() for n in nodes if n.nodeName() == "LogicalRDD"}

    given = checkpoints(inputs)
    for rdd_id, rdd in checkpoints(result).items():
        if rdd_id not in given:
            rdd.unpersist(False)
