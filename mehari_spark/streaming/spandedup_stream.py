"""Streaming span-level substring dedup: arriving documents -> winnowed
fingerprint postings -> candidates against the ACCUMULATED fingerprint
index -> verify + maximal extension against the text store -> confirmed
cross-document shared spans, continuously.

The batch operator (operators/spandedup.span_matches_winnowed) finds
shared passages across a static corpus; production ingest needs the same
answer INCREMENTALLY — each arriving document checked against everything
seen so far without re-scanning the corpus. Same state discipline as the
continuous KG maintenance (streaming/kg_stream.py): the streaming query
itself is STATELESS — state lives in three on-disk tables under
``store_dir`` plus the commit log —

- ``index/``  fingerprint postings (doc_id, pos, fp, fp_bucket) of every
  document seen (the inverted index; seen-KEYS, never text) in an
  LSM-shaped layout: each epoch lands as ONE flat delta dir
  ``epoch=N/`` with ``fp_bucket = pmod(fp, n_fp_buckets)`` stored as a
  data column, and compaction periodically folds applied deltas into a
  consolidated base dir ``epoch=c<lo>-<hi>/fp_bucket=B/``
  hive-partitioned by bucket;
- ``texts/``  the corpus itself (doc_id, text, doc_bucket) in the same
  delta + bucketed-base layout (``doc_bucket = pmod(doc_id,
  n_doc_buckets)``) — candidate verification needs real characters, and
  the corpus store is a TABLE, not stream state (the
  seen-keys-never-payloads rule constrains the state store, not the
  sink);
- ``spans/epoch=N/``  confirmed spans discovered at epoch N.

Per epoch: new postings equi-join the accumulated index (cross-epoch
candidates) and self-join within the batch (same-epoch candidates); the
seeds verify + extend against the texts (the batch path's row-wise Arrow
kernel, reused); results and the new postings/texts land in per-epoch
directories whose overwrite makes replay idempotent, and an
``epoch_done`` audit row marks completion (read once per query lifetime
— the kg_stream always-on discipline).

PER-EPOCH COST IS O(batch + matched buckets), NOT O(corpus) — the
round-7 full-scan weakness is closed by three mechanisms:

1. The index read is PRUNED to the batch's fingerprint buckets: the
   batch postings' distinct ``fp_bucket`` values (at most
   ``n_fp_buckets`` ints — bounded driver metadata, the plans/merge.py
   bucket-list discipline) select exactly the matching ``fp_bucket=B``
   subdirs of the compacted base BY PATH (nothing else is listed or
   opened) and filter the small recent deltas on the data column. With
   the default 1024 buckets a small batch prunes most of the
   accumulated index.
2. The texts read is PRUNED the same way to the candidate documents'
   ``doc_bucket`` groups (collected from the materialized candidate
   seeds, again bounded metadata) — verification touches only buckets
   that hold a candidate doc, never the whole corpus store.
3. ``compact_span_store`` periodically merges fully-applied epoch
   deltas into ONE consolidated hive-bucketed dir per store (the
   plans/compact.py discipline: stage -> fingerprint-verify -> a logged
   many-to-one ``commit.swap``), bounding both the unpruned-delta
   fraction and the file/dir counts as epochs accumulate; the stream
   runs it inline every ``compact_every_epochs`` applied epochs. Deltas are
   deliberately FLAT — hive-partitioning each small batch into hundreds
   of bucket dirs measured ~6x slower per epoch than the unpruned scan
   it replaced (metadata beats bytes at delta size; bench_stream_span
   records the measurement), which is why bucketing happens only at
   compaction, LSM-style.

EXACTNESS: every document pair meets exactly once — at the later doc's
arrival epoch (earlier doc's postings are already in the index), or in
the within-batch join when they share an epoch — so the union of per-
epoch spans over any arrival split EQUALS the batch operator over the
final corpus (winnowing guarantee >= k + w - 1 included); test-gated
across multi-wave arrivals and restart. Assumes doc_ids are unique
across the stream (re-ingesting an id would double its postings).
CAVEAT (round-7 ADVICE): ``max_df`` caps document frequency WITHIN each
arrival batch only, never against the accumulated index, so with a
finite ``max_df`` the stream's output can differ from the batch
operator run with the same ``max_df`` (a fingerprint seen once per
epoch is never capped); the union-equals-batch guarantee above holds
exactly for ``max_df=None``. Reference: seen-keys dedup across parallel
windows (/root/reference/mehari/src/db/mod.rs:208-309).

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
from ..session import local_frame

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
    spark: SparkSession, store_dir: str, sub: str, schema: str
) -> DataFrame:
    """Plain union read of a store subtree (spans; or index/texts with no
    bucket pruning). Handles the MIXED layout: recent per-epoch delta
    dirs are flat parquet with the bucket column as DATA, compacted dirs
    are hive-partitioned by it — they must be read separately (one
    basePath read over both depths trips partition-discovery conflicts)
    and unioned."""
    return _read_dirs(
        spark, store_dir, sub, _epoch_dirs(store_dir, sub), schema, None
    )


def _bucket_prefix(sub: str) -> str | None:
    return {"index": "fp_bucket", "texts": "doc_bucket"}.get(sub)


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
    cols = [c.strip().split(" ")[0] for c in schema.split(",")]
    base = os.path.join(store_dir, sub)
    part_col = _bucket_prefix(sub)
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
    """The accumulated index restricted to ``buckets``: compacted base
    dirs pruned by path, recent deltas filtered on the data column
    (test-gated via the scan's files-read metric)."""
    if not buckets:
        return local_frame(spark, [], _POSTING_SCHEMA)
    return _read_dirs(
        spark,
        store_dir,
        "index",
        _epoch_dirs(store_dir, "index"),
        _POSTING_SCHEMA,
        buckets,
    )


def _pruned_texts(
    spark: SparkSession, store_dir: str, doc_buckets: list[int]
) -> DataFrame:
    """The corpus store restricted to the candidate docs' ``doc_bucket``
    groups (same path-pruned base + filtered-delta read as the index)."""
    if not doc_buckets:
        return local_frame(spark, [], _TEXT_SCHEMA)
    return _read_dirs(
        spark,
        store_dir,
        "texts",
        _epoch_dirs(store_dir, "texts"),
        _TEXT_SCHEMA,
        doc_buckets,
    )


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
    underscore-prefixed dir (invisible to partition discovery), verify
    row count + two order-insensitive content fingerprints, atomically
    publish it as ``epoch=c<lo>-<hi>`` covering the source dirs
    (``commit.swap``: its staged/compact_done log pair makes an
    interrupted publish repairable by ``commit.repair``; a destination
    that is one of its own sources is refused). Only epochs recorded
    ``epoch_done`` for ``scope`` are merged — an in-flight epoch may
    still be rewritten by replay and keeps its own dir. Returns
    {"index": n_dirs_merged, "texts": n_dirs_merged}."""
    from ..plans.compact import _fingerprint

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
        cols = [c.strip().split(" ")[0] for c in schema.split(",")]
        # mixed-layout read (flat deltas + previously-compacted dirs)
        live = _read_dirs(spark, store_dir, sub, eligible, schema, None)
        n_live, fp_live, fps_live = _fingerprint(live)
        staged = commit.open_staging(base, "span")
        live.repartition(part_col).write.mode("overwrite").partitionBy(
            part_col
        ).parquet(staged)
        if _fingerprint(spark.read.parquet(staged).select(*cols)) != (
            n_live,
            fp_live,
            fps_live,
        ):
            raise RuntimeError(
                f"span-store compaction of {sub} would change content — aborted"
            )
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
    runs ``compact_span_store`` inline whenever the index holds at least
    that many epoch dirs (None disables).

    ``prune_min_bytes``: bucket-pruned reads engage once a store exceeds
    this size; below it the epoch reads the store in full. Pruning never
    changes results — this is an IO-cost crossover, MEASURED locally
    (bench_stream_span.py, same-window 4-doc waves): at a ~30 MB store
    full page-cached scans beat the ~100 pruned per-file opens, at a
    ~150 MB store forced pruning wins 5.8 -> 3.3 s/epoch (1.75x), and
    past that the byte savings (matched buckets / n_fp_buckets of the
    store, ~1/10th for tiny batches at 1024 buckets) grow with the
    corpus while the pruned cost stays ~O(batch + matched buckets). The
    64 MB default sits between the two measured points; same
    scale-adaptive-knob discipline as spread="auto". 0 forces pruning
    (exactness under forced pruning is test-gated end to end)."""
    min_len = k + w - 1
    docs = (
        spark.readStream.schema(DOCS_DDL)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )
    scope = os.path.abspath(checkpoint_dir)
    commit.repair(store_dir)
    applied = commit.epoch_tracker(store_dir, STAGE, scope)
    layout = {"n_fp_buckets": n_fp_buckets, "n_doc_buckets": n_doc_buckets}
    recorded = commit.check_layout(store_dir, **layout)
    # bucket columns of a store written before layout rows may use any
    # moduli, so path pruning could miss candidates: read it in full
    legacy = not recorded and any(
        _epoch_dirs(store_dir, sub) for sub in ("index", "texts")
    )
    record_layout = not recorded and not legacy

    def apply_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal record_layout
        if int(epoch_id) in applied:
            return  # replayed epoch: already fully applied
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
        postings_new = postings_new.localCheckpoint(eager=True)

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
            cand = cross.unionByName(within).localCheckpoint(eager=True)
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
            stored_texts = _pruned_texts(spark, store_dir, cand_buckets)
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
        spans.write.mode("overwrite").parquet(
            os.path.join(store_dir, "spans", ep)
        )
        (
            batch_texts.withColumn(
                "doc_bucket",
                F.pmod("doc_id", F.lit(n_doc_buckets)).cast("int"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(store_dir, "texts", ep))
        )
        postings_new.write.mode("overwrite").parquet(
            os.path.join(store_dir, "index", ep)
        )
        commit.mark_epoch(store_dir, STAGE, scope, epoch_id, applied)
        for df in (postings_new, cand):
            try:  # release the epoch's checkpoint blocks (house pattern)
                df.rdd.unpersist()
            except Exception:
                pass
        if (
            compact_every_epochs is not None
            and len(_epoch_dirs(store_dir, "index")) >= compact_every_epochs
        ):
            compact_span_store(
                spark, store_dir, scope, min_epoch_dirs=compact_every_epochs
            )

    writer = docs.writeStream.foreachBatch(apply_epoch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_span_matches(spark: SparkSession, store_dir: str) -> DataFrame:
    """All confirmed spans discovered so far — comparable 1:1 with
    operators/spandedup.span_matches_winnowed over the full corpus (each
    pair meets exactly once, so the plain union is duplicate-free)."""
    return _read_epochs(spark, store_dir, "spans", _SPAN_SCHEMA)


def read_corpus_texts(spark: SparkSession, store_dir: str) -> DataFrame:
    return _read_epochs(spark, store_dir, "texts", _TEXT_SCHEMA)
