"""Streaming span-level substring dedup: arriving documents -> winnowed
fingerprint postings -> candidates against the ACCUMULATED fingerprint
index -> verify + maximal extension against the text store -> confirmed
cross-document shared spans, continuously.

The batch operator (operators/spandedup.span_matches_winnowed) finds
shared passages across a static corpus; ingest needs the same answer
INCREMENTALLY, each arriving document checked against everything seen so
far. As in kg_stream.py the query itself is STATELESS; state lives in
three on-disk tables under ``store_dir`` plus the commit log:

- ``index/``  fingerprint postings (doc_id, pos, fp, fp_bucket) of every
  document seen (seen-KEYS, never text), LSM-shaped: each epoch lands as
  ONE flat delta dir ``epoch=N/`` with ``fp_bucket = pmod(fp,
  n_fp_buckets)`` as a data column, and compaction folds applied deltas
  into a base dir ``epoch=c<lo>-<hi>/fp_bucket=B/``;
- ``texts/``  the corpus (doc_id, text, doc_bucket) in the same layout
  (``doc_bucket = pmod(doc_id, n_doc_buckets)``): verification needs
  real characters, and the corpus store is a table, not stream state;
- ``spans/epoch=N/``  confirmed spans discovered at epoch N.

Per epoch: new postings join the accumulated index (cross-epoch
candidates) and themselves (same-epoch candidates); the seeds verify +
extend against the texts (the batch path's Arrow kernel); results and the
new postings/texts land in per-epoch dirs whose overwrite makes replay
idempotent, and the epoch runner (streaming/epochs.py) logs the epoch.

PER-EPOCH COST IS O(batch + matched buckets), NOT O(corpus):

1. Past ``prune_min_bytes``, the index read is PRUNED to the batch's
   distinct ``fp_bucket`` values (bounded driver metadata, the
   plans/merge.py bucket-list discipline): the matching bucket subdirs
   of the base are read BY PATH and the small deltas are filtered on
   the data column.
2. The texts read is pruned the same way to the candidate documents'
   ``doc_bucket`` groups, collected from the checkpointed seeds.
3. ``compact_span_store`` merges applied epoch deltas into ONE
   hive-bucketed dir per store (the plans/compact.py discipline: stage
   -> fingerprint-verify -> a logged many-to-one ``commit.swap``); the
   stream runs it at the start of an epoch every
   ``compact_every_epochs`` applied epochs. Deltas stay FLAT:
   hive-partitioning each small batch into hundreds of bucket dirs
   measured ~6x slower per epoch than the unpruned scan it replaced
   (``BENCH/history/bench_stream_span.py``).

EXACTNESS: every document pair meets exactly once, at the later doc's
arrival epoch or in the within-batch join, so the union of per-epoch
spans over any arrival split EQUALS the batch operator over the final
corpus (test-gated across waves and restarts). Assumes doc_ids are
unique across the stream. ``max_df`` caps document frequency WITHIN each
arrival batch only, so the equality holds exactly for ``max_df=None``.
Reference: mehari's seen-keys dedup across parallel windows
(db/mod.rs:208-309).

LAYOUT: pruning by path is sound only while every epoch used the same
``n_fp_buckets``/``n_doc_buckets``. The first epoch logs them in a
``layout`` row and a restart with other values raises
(``commit.check_layout``). A store with epoch dirs but no layout row
predates that row; it is always read unpruned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.spandedup import _verify_extend_rows, winnowed_postings
from ..plans import commit
from ..plans.stagecache import checkpoint, release
from ..session import local_frame
from .epochs import run_stream

DOCS_DDL = "doc_id long, text string, lang string, source string, n_chars long"
_POSTING_SCHEMA = "doc_id long, pos int, fp long, fp_bucket int"
_SPAN_SCHEMA = "doc_a long, doc_b long, start_a long, start_b long, span_len long"
_TEXT_SCHEMA = "doc_id long, text string"
STAGE = "span_stream"


def _store_bytes(store_dir: str, sub: str) -> int:
    """Total bytes under a store subtree — driver-side metadata for the
    prune_min_bytes crossover; file counts stay bounded by compaction."""
    total = 0
    for root, _dirs, files in os.walk(os.path.join(store_dir, sub)):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _epoch_dirs(store_dir: str, sub: str) -> list[str]:
    base = os.path.join(store_dir, sub)
    if not os.path.isdir(base):
        return []
    return sorted(
        os.path.join(base, d)
        for d in os.listdir(base)
        if d.startswith("epoch=")
    )


def _read_epochs(
    spark: SparkSession,
    store_dir: str,
    sub: str,
    schema: str,
    buckets: list[int] | None = None,
) -> DataFrame:
    """Union read of a store subtree, restricted to ``buckets`` when given
    (see ``_read_dirs``). Handles the MIXED layout: recent per-epoch delta
    dirs are flat parquet with the bucket column as DATA, compacted dirs
    are hive-partitioned by it — they must be read separately (one
    basePath read over both depths trips partition-discovery conflicts)
    and unioned."""
    return _read_dirs(
        spark, store_dir, sub, _epoch_dirs(store_dir, sub), schema, buckets
    )


def _read_dirs(
    spark: SparkSession,
    store_dir: str,
    sub: str,
    dirs: list[str],
    schema: str,
    buckets: list[int] | None,
) -> DataFrame:
    """Union read over an explicit epoch-dir list of the LSM-shaped store.

    Layout: per-epoch DELTA dirs are flat parquet (bucket column stored
    as data — a small batch must not fan out into hundreds of bucket
    dirs, that metadata explosion measured 6x slower per epoch than the
    scan it saved); compacted dirs (``epoch=c<lo>-<hi>``) are
    hive-partitioned by the bucket column. With ``buckets`` set, the
    compacted dirs are pruned by PATH (only matching ``<part>=B``
    subdirs are handed to the reader — nothing else is listed or opened)
    and the small deltas are filtered on the data column; per-epoch IO
    is O(deltas + matched buckets), not O(corpus)."""
    if buckets is not None and not buckets:
        return local_frame(spark, [], schema)
    cols = [c.strip().split(" ")[0] for c in schema.split(",")]
    base = os.path.join(store_dir, sub)
    part_col = {"index": "fp_bucket", "texts": "doc_bucket"}.get(sub)
    bucketed: list[tuple[str, list[str]]] = []
    plain: list[str] = []
    for d in dirs:
        subs = (
            [s for s in os.listdir(d) if s.startswith(part_col + "=")]
            if part_col
            else []
        )
        if subs:
            bucketed.append((d, subs))
        else:
            plain.append(d)
    parts: list[DataFrame] = []
    if bucketed:
        if buckets is None:
            paths = [
                os.path.join(d, s) for d, subs in bucketed for s in subs
            ]
        else:
            want = {f"{part_col}={int(b)}" for b in buckets}
            paths = [
                os.path.join(d, s)
                for d, subs in bucketed
                for s in subs
                if s in want
            ]
        if paths:
            parts.append(
                spark.read.option("basePath", base).parquet(*paths).select(*cols)
            )
    if plain:
        df = spark.read.parquet(*plain)
        if buckets is not None and part_col is not None:
            # the bucket lives as a data column in delta files; filter
            # BEFORE the projection (schema may not carry it, e.g. texts)
            df = df.where(F.col(part_col).isin([int(b) for b in buckets]))
        parts.append(df.select(*cols))
    if not parts:
        return local_frame(spark, [], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _pruned_index(
    spark: SparkSession, store_dir: str, buckets: list[int]
) -> DataFrame:
    """The accumulated index restricted to ``buckets`` (test-gated via the
    scan's files-read metric)."""
    return _read_epochs(spark, store_dir, "index", _POSTING_SCHEMA, buckets)


def applied_epochs(store_dir: str, scope: str) -> set[int]:
    """Completed epoch ids for this checkpoint lineage."""
    return commit.applied_epochs(store_dir, STAGE, scope)


def _compacted_dir_epochs(name: str) -> tuple[int, int] | None:
    """epoch=c<lo>-<hi> -> (lo, hi); None for plain epoch=<int> dirs."""
    val = name.split("=", 1)[1]
    if not val.startswith("c"):
        return None
    lo, _, hi = val[1:].partition("-")
    return int(lo), int(hi)


def compact_span_store(
    spark: SparkSession,
    store_dir: str,
    scope: str,
    min_epoch_dirs: int = 2,
) -> dict:
    """Merge fully-applied per-epoch dirs of the index and texts stores
    into ONE consolidated bucketed epoch dir each.

    plans/compact.py discipline: stage the rewrite under an
    underscore-prefixed dir (invisible to partition discovery), pass it
    through ``compact.content_gate`` (row count + two order-insensitive
    content fingerprints), atomically publish it as ``epoch=c<lo>-<hi>``
    covering the source dirs (``commit.swap``: its staged/compact_done
    log pair makes an interrupted publish repairable by ``commit.repair``;
    a destination that is one of its own sources is refused). Only epochs recorded
    ``epoch_done`` for ``scope`` are merged — an in-flight epoch may
    still be rewritten by replay and keeps its own dir. Returns
    {"index": n_dirs_merged, "texts": n_dirs_merged}."""
    from ..plans.compact import content_gate

    commit.repair(store_dir)
    done = applied_epochs(store_dir, scope)
    out = {}
    for sub, part_col in (("index", "fp_bucket"), ("texts", "doc_bucket")):
        dirs = _epoch_dirs(store_dir, sub)
        eligible: list[str] = []
        epochs_covered: list[int] = []
        for d in dirs:
            name = os.path.basename(d)
            rng = _compacted_dir_epochs(name)
            if rng is not None:  # already-compacted dirs are always safe
                eligible.append(d)
                epochs_covered.extend(rng)
                continue
            ep = int(name.split("=", 1)[1])
            if ep in done:
                eligible.append(d)
                epochs_covered.append(ep)
        if len(eligible) < max(2, min_epoch_dirs):
            out[sub] = 0
            continue
        base = os.path.join(store_dir, sub)
        lo, hi = min(epochs_covered), max(epochs_covered)
        dest = os.path.join(base, f"epoch=c{lo}-{hi}")
        schema = (
            _POSTING_SCHEMA
            if sub == "index"
            else _TEXT_SCHEMA + ", doc_bucket int"
        )
        # mixed-layout read (flat deltas + previously-compacted dirs)
        live = _read_dirs(spark, store_dir, sub, eligible, schema, None)
        staged = commit.open_staging(base, "span")
        live.repartition(part_col).write.mode("overwrite").partitionBy(
            part_col
        ).parquet(staged)
        content_gate(live, staged, f"span-store compaction of {sub}")
        commit.swap(
            staged, dest, covers=eligible, log_root=store_dir, stage="span_compact"
        )
        out[sub] = len(eligible)
    return out


def stream_span_dedup(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    k: int = 24,
    w: int = 8,
    n_fp_buckets: int = 1024,
    n_doc_buckets: int = 64,
    max_df: int | None = None,
    max_files_per_trigger: int = 1,
    available_now: bool = True,
    compact_every_epochs: int | None = 32,
    prune_min_bytes: int = 64 << 20,
) -> StreamingQuery:
    """Start the ingest-side span-dedup stream; returns the StreamingQuery.

    ``input_dir`` is a file-source directory of document parquet chunks
    (streaming/replay.write_arrival_chunk shape). ``compact_every_epochs``
    runs ``compact_span_store`` at the start of an epoch whenever the
    index holds at least that many epoch dirs (None disables).

    ``prune_min_bytes``: bucket-pruned reads engage once a store exceeds
    this size; below it the epoch reads the store in full. Pruning never
    changes results — this is an IO-cost crossover, MEASURED locally
    (``BENCH/history/bench_stream_span.py``, same-window 4-doc waves):
    at a ~30 MB store full page-cached scans beat the ~100 pruned
    per-file opens, at a ~150 MB store forced pruning wins 5.8 -> 3.3
    s/epoch (1.75x), and past that the byte savings (matched buckets /
    n_fp_buckets of the store, ~1/10th for tiny batches at 1024 buckets)
    grow with the corpus while the pruned cost stays ~O(batch + matched
    buckets). The 64 MB default sits between the two measured points. 0
    forces pruning (exactness under forced pruning is test-gated end to
    end)."""
    min_len = k + w - 1
    scope = os.path.abspath(checkpoint_dir)
    commit.repair(store_dir)
    layout = {"n_fp_buckets": n_fp_buckets, "n_doc_buckets": n_doc_buckets}
    recorded = commit.check_layout(store_dir, **layout)
    # bucket columns of a store written before layout rows may use any
    # moduli, so path pruning could miss candidates: read it in full
    legacy = not recorded and any(
        _epoch_dirs(store_dir, sub) for sub in ("index", "texts")
    )
    record_layout = not recorded and not legacy

    def write(batch_df: DataFrame, epoch_id: int) -> dict:
        nonlocal record_layout
        # compaction folds only epochs the log already holds, so it runs
        # before this epoch's data lands
        if (
            compact_every_epochs is not None
            and len(_epoch_dirs(store_dir, "index")) >= compact_every_epochs
        ):
            compact_span_store(
                spark, store_dir, scope, min_epoch_dirs=compact_every_epochs
            )
        batch_texts = batch_df.select("doc_id", "text")
        postings_new = winnowed_postings(batch_texts, k, w).withColumn(
            "fp_bucket", F.pmod("fp", F.lit(n_fp_buckets)).cast("int")
        )
        if max_df is not None:
            hot = (
                postings_new.groupBy("fp")
                .agg(F.count_distinct("doc_id").alias("_nd"))
                .where(F.col("_nd") > max_df)
                .select("fp")
            )
            postings_new = postings_new.join(F.broadcast(hot), "fp", "left_anti")
        # the batch postings feed three joins (index, self x2) and the
        # bucket collection — one materialization, not four winnowing scans
        postings_new = checkpoint(postings_new)
        # distinct fp_buckets of THIS batch: bounded driver metadata
        # (<= n_fp_buckets ints) that prunes the index read to matching
        # bucket dirs — past the prune_min_bytes crossover, per-epoch
        # index IO is O(deltas + matched buckets), not O(corpus)
        prune_index = (
            not legacy and _store_bytes(store_dir, "index") >= prune_min_bytes
        )
        if prune_index:
            batch_buckets = [
                r[0]
                for r in postings_new.select("fp_bucket").distinct().collect()
            ]
            index = _pruned_index(spark, store_dir, batch_buckets)
        else:
            index = _read_epochs(spark, store_dir, "index", _POSTING_SCHEMA)
        # cross-epoch candidates: stored doc x new doc on the fingerprint,
        # pair normalized to doc_a < doc_b (the batch operator's contract;
        # arrival order is an implementation detail). fp equality implies
        # fp_bucket equality, so the bucket is in the join implicitly.
        o, n = index.alias("o"), postings_new.alias("n")
        cross = o.join(
            n,
            (F.col("o.fp") == F.col("n.fp"))
            & (F.col("o.doc_id") != F.col("n.doc_id")),
        ).select(
            F.least("o.doc_id", "n.doc_id").alias("doc_a"),
            F.greatest("o.doc_id", "n.doc_id").alias("doc_b"),
            F.when(F.col("o.doc_id") < F.col("n.doc_id"), F.col("o.pos"))
            .otherwise(F.col("n.pos"))
            .alias("pos_a"),
            F.when(F.col("o.doc_id") < F.col("n.doc_id"), F.col("n.pos"))
            .otherwise(F.col("o.pos"))
            .alias("pos_b"),
        )
        a, b = postings_new.alias("a"), postings_new.alias("b")
        within = a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pos_a"),
            F.col("b.pos").alias("pos_b"),
        )
        if not legacy and _store_bytes(store_dir, "texts") >= prune_min_bytes:
            # materialize the seeds once: they feed the doc-bucket
            # collection AND the verify join; verification then reads
            # ONLY the candidate docs' buckets of the corpus store
            cand = checkpoint(cross.unionByName(within))
            cand_buckets = [
                r[0]
                for r in cand.select(
                    F.explode(
                        F.array(
                            F.pmod("doc_a", F.lit(n_doc_buckets)),
                            F.pmod("doc_b", F.lit(n_doc_buckets)),
                        )
                    ).alias("b")
                )
                .distinct()
                .collect()
            ]
            stored_texts = _read_epochs(
                spark, store_dir, "texts", _TEXT_SCHEMA, cand_buckets
            )
        else:
            cand = cross.unionByName(within)
            stored_texts = _read_epochs(
                spark, store_dir, "texts", _TEXT_SCHEMA
            )
        texts_all = stored_texts.unionByName(batch_texts)
        cand_t = cand.join(
            texts_all.select(
                F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")
            ),
            "doc_a",
        ).join(
            texts_all.select(
                F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")
            ),
            "doc_b",
        )
        spans = (
            cand_t.mapInPandas(
                lambda it: _verify_extend_rows(it, k, min_len),
                schema=_SPAN_SCHEMA,
            )
            .distinct()
        )
        if record_layout:
            # before the first epoch's data: a store holding data but no
            # layout row is then always one written before layout rows
            commit.append(store_dir, {"status": "layout", "stage": STAGE, **layout})
            record_layout = False
        # per-epoch dirs: mode=overwrite makes a replayed epoch rewrite the
        # same content — idempotent without a merge
        # LSM delta layout: each epoch writes ONE flat dir carrying its
        # bucket column as data (a small batch hive-partitioned into
        # hundreds of bucket dirs measured 6x slower per epoch than the
        # unpruned scan it was meant to save — metadata, not bytes, was
        # the cost); compaction periodically folds deltas into the
        # hive-bucketed base dirs that path-pruned reads then exploit
        ep = f"epoch={int(epoch_id)}"
        outputs = {
            "spans": spans,
            "texts": batch_texts.withColumn(
                "doc_bucket",
                F.pmod("doc_id", F.lit(n_doc_buckets)).cast("int"),
            ),
            "index": postings_new,
        }
        counts = {}
        for sub, df in outputs.items():
            dest = os.path.join(store_dir, sub, ep)
            df.write.mode("overwrite").parquet(dest)
            counts[sub] = commit.staged_rows(dest)
        # this epoch's checkpoints: nothing reads them past its writes
        release(postings_new)
        release(cand)
        return counts

    return run_stream(
        spark, input_dir, DOCS_DDL, write, checkpoint_dir, store_dir, STAGE,
        max_files_per_trigger, available_now=available_now,
    )


def read_span_matches(spark: SparkSession, store_dir: str) -> DataFrame:
    """All confirmed spans discovered so far — comparable 1:1 with
    operators/spandedup.span_matches_winnowed over the full corpus (each
    pair meets exactly once, so the plain union is duplicate-free)."""
    return _read_epochs(spark, store_dir, "spans", _SPAN_SCHEMA)


def read_corpus_texts(spark: SparkSession, store_dir: str) -> DataFrame:
    return _read_epochs(spark, store_dir, "texts", _TEXT_SCHEMA)
