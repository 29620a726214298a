"""Incremental view maintenance over the bucketed KG table: per-bucket
partial aggregates refreshed only for merge-touched buckets, for ANY view
declared as a sum-mergeable partial-agg spec.

A continuously-maintained KG (streaming/kg_stream.py) needs its consumer
aggregates maintained too — recomputing a global profile after every
epoch re-scans the whole table, which at 100 TB is exactly the re-scan
the partition-pruned MERGE avoids. The standard fix is partition-wise
partial aggregation (materialized-view maintenance over partitioned fact
tables): keep one PARTIAL aggregate per bucket, recompute only the
partials of buckets the epoch's merge rewrote, and serve the global view
as a cheap sum over partials. Per-epoch cost is O(touched buckets); the
global view never re-reads the fact table. This is the same split the
reference applies at its storage layer — per-key batched upserts with
derived tables rebuilt from changed ranges only (db/mod.rs:208-309
discipline).

The machinery is PARAMETERIZED over a ``PartialAggSpec``: a row-local
transform of the fact rows (must not shuffle — it runs inside the
per-bucket job), grouping columns, and measure columns each merged under
a commutative MONOID (sum, min, or max) — the bucket partial applies the
op to the bucket's rows and the global view applies the SAME op to the
partials. Any such view is maintained by the SAME refresh code — no new
maintenance plumbing per view. Three shipped views: ``DEGREE_VIEW``
(per-entity in/out degree), ``PREDICATE_VIEW`` (per-predicate assertion
counts) and ``PRED_LATEST_VIEW`` (mixed sum+max: counts + newest
assertion timestamp), each with an oracle-checked batch twin
(``kg_current_degree`` / ``kg_current_predicates`` /
``kg_current_pred_latest`` in plans/queries.py).

Partials are DERIVED data: every refresh is a deterministic function of
the bucket's current content, so refreshes are idempotent and crash
recovery needs no log — kg_stream orders merge -> refresh -> epoch_done,
so a crash anywhere in between replays the (idempotent) pair. A refresh
also catches up buckets that have data but no partial yet (maintenance
turned on mid-life), so the invariant after any refresh is: every data
bucket has a partial consistent with its content.

Layout: ``<table_dir>/_analytics/<view>/part=<bucket>/*.parquet``,
written through plans/commit.py: staging under the view dir (a killed
refresh's stale staging is swept by the next one), then ``commit.swap``
per bucket, and ``commit.repair`` of the view dir before each refresh.
Visibility note (ADVICE r6): the swap is rename-aside, NOT a manifest
pointer — between moving the old partial aside and the new one in, the
``part=<b>`` dir is briefly absent and a concurrent ``read_view`` FAILS
CLOSED (raises on the missing partial) rather than serving a partial
view; single-writer + retrying readers is the sandbox contract, a
production deployment would commit partials through the same table
format as the facts (Iceberg snapshot isolation).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import commit


_AGG_FNS = {"sum": F.sum, "min": F.min, "max": F.max}


@dataclass(frozen=True)
class PartialAggSpec:
    """A view maintainable by per-bucket partials under any commutative
    MONOID merge (sum / min / max): the bucket partial applies the op to
    the bucket's rows, the global merge applies the SAME op to the
    partials — associativity + commutativity make the two-level
    evaluation equal the flat one.

    ``row_fn`` maps the fact rows to the view's input rows — it must be
    ROW-LOCAL (select/explode/filter only, no shuffle: it executes inside
    the touched-buckets refresh job and its output is aggregated by
    (bucket, group)), and it must PROPAGATE the ``_part`` partition
    column the machinery attaches (refresh validates this and raises).
    ``group_cols`` key the view; ``sum_cols`` are long-typed measures
    produced by ``row_fn``; ``agg_kinds`` gives each measure's monoid
    ("sum" default — counts are sums; "min"/"max" for extrema like
    latest-assertion timestamps)."""

    name: str
    row_fn: Callable[[DataFrame], DataFrame]
    group_cols: tuple[str, ...]
    sum_cols: tuple[str, ...]
    agg_kinds: tuple[str, ...] | None = None

    def kinds(self) -> tuple[str, ...]:
        ks = self.agg_kinds or tuple("sum" for _ in self.sum_cols)
        if len(ks) != len(self.sum_cols) or any(k not in _AGG_FNS for k in ks):
            raise ValueError(
                f"agg_kinds of view {self.name!r} must parallel sum_cols "
                f"with values in {sorted(_AGG_FNS)}; got {ks!r}"
            )
        return ks

    def agg_exprs(self) -> list:
        return [
            _AGG_FNS[kind](c).cast("long").alias(c)
            for c, kind in zip(self.sum_cols, self.kinds())
        ]


def _keep(rows: DataFrame, *cols) -> list:
    """The pass-through columns row_fn must propagate (``_part`` when the
    refresh machinery attached it) plus the view's own columns."""
    return ([F.col("_part")] if "_part" in rows.columns else []) + list(cols)


def _degree_rows(rows: DataFrame) -> DataFrame:
    """(entity_id, n_out, n_in) incidence rows: each fact row emits its
    subject (out-edge) and object (in-edge)."""
    e = F.explode(
        F.array(
            F.struct(
                F.col("subj_id").alias("entity_id"),
                F.lit(1).cast("long").alias("n_out"),
                F.lit(0).cast("long").alias("n_in"),
            ),
            F.struct(
                F.col("obj_id").alias("entity_id"),
                F.lit(0).cast("long").alias("n_out"),
                F.lit(1).cast("long").alias("n_in"),
            ),
        )
    ).alias("e")
    return rows.select(*_keep(rows, e)).select(
        *_keep(rows, F.col("e.entity_id"), F.col("e.n_out"), F.col("e.n_in"))
    )


def _pred_latest_rows(rows: DataFrame) -> DataFrame:
    """(pred_id, n_assertions, latest_ts): per-predicate count + newest
    assertion timestamp — a MIXED-monoid view (sum + max) demonstrating
    the general merge."""
    return rows.select(
        *_keep(
            rows,
            F.col("pred_id"),
            F.lit(1).cast("long").alias("n_assertions"),
            F.col("ts_epoch").cast("long").alias("latest_ts"),
        )
    )


def _predicate_rows(rows: DataFrame) -> DataFrame:
    """(pred_id, n_assertions): assertion counts per predicate (current-
    state rows are unique per (subj,pred), so this is also the subject
    count per predicate)."""
    return rows.select(
        *_keep(rows, F.col("pred_id"), F.lit(1).cast("long").alias("n_assertions"))
    )


DEGREE_VIEW = PartialAggSpec(
    "degree", _degree_rows, ("entity_id",), ("n_out", "n_in")
)
PREDICATE_VIEW = PartialAggSpec(
    "predicates", _predicate_rows, ("pred_id",), ("n_assertions",)
)
PRED_LATEST_VIEW = PartialAggSpec(
    "pred_latest",
    _pred_latest_rows,
    ("pred_id",),
    ("n_assertions", "latest_ts"),
    agg_kinds=("sum", "max"),
)


def _view_dir(table_dir: str, spec: PartialAggSpec) -> str:
    return os.path.join(table_dir, "_analytics", spec.name)


def _existing_data_buckets(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(table_dir)
        if d.startswith("bucket=") and d.split("=", 1)[1].isdigit()
    )


def _partial_buckets(table_dir: str, spec: PartialAggSpec) -> list[int]:
    adir = _view_dir(table_dir, spec)
    if not os.path.isdir(adir):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(adir)
        if d.startswith("part=") and d.split("=", 1)[1].isdigit()
    )


def refresh_partials(
    spark: SparkSession,
    table_dir: str,
    touched_buckets: list[int],
    spec: PartialAggSpec,
) -> list[int]:
    """Recompute ``spec``'s partial for each touched bucket (plus any data
    bucket missing a partial — catch-up) from that bucket's CURRENT rows.

    One Spark job covers all refreshed buckets: the bucket dirs are read
    with a basePath so the ``bucket`` partition column survives, the
    row_fn output is aggregated by (bucket, *group_cols) — every partial
    in parallel — and the staged output is swapped in per bucket
    (rename-aside; a concurrent reader of a mid-swap bucket fails closed,
    see module docstring). Returns the buckets actually refreshed.
    Idempotent: partials are a pure function of bucket content."""
    have = set(_partial_buckets(table_dir, spec))
    data = _existing_data_buckets(table_dir)
    todo = sorted(set(touched_buckets) | {b for b in data if b not in have})
    todo = [b for b in todo if b in set(data)]
    if not todo:
        return []

    paths = [os.path.join(table_dir, f"bucket={b}") for b in todo]
    rows = spark.read.option("basePath", table_dir).parquet(*paths)
    tagged = spec.row_fn(rows.withColumnRenamed("bucket", "_part"))
    if "_part" not in tagged.columns:
        raise ValueError(
            f"row_fn of view {spec.name!r} must propagate the '_part' "
            "partition column alongside its group/sum columns"
        )
    inc = tagged.select("_part", *spec.group_cols, *spec.sum_cols)
    partials = inc.groupBy("_part", *spec.group_cols).agg(*spec.agg_exprs())

    adir = _view_dir(table_dir, spec)
    commit.repair(adir)
    staging = commit.open_staging(adir, "view")
    try:
        partials.write.mode("overwrite").partitionBy("_part").parquet(staging)
        for b in todo:
            src = os.path.join(staging, f"_part={b}")
            if not os.path.isdir(src):
                # a data bucket whose rows produce no view rows (row_fn
                # filtered everything): an absent partial would read as
                # "missing — refresh first", so write an empty one
                empty = partials.drop("_part").limit(0)
                empty.write.mode("overwrite").parquet(src)
            commit.swap(src, os.path.join(adir, f"part={b}"))
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return todo


def read_view(
    spark: SparkSession, table_dir: str, spec: PartialAggSpec
) -> DataFrame:
    """The maintained global view — a sum over per-bucket partials, never
    a fact-table scan.

    Raises if maintenance never ran (no partials) while the table has
    data, or if any data bucket's partial is missing (stale or mid-swap)
    — fail closed, never a silently partial view."""
    data = _existing_data_buckets(table_dir)
    have = _partial_buckets(table_dir, spec)
    if data and not have:
        raise FileNotFoundError(
            f"no {spec.name!r} partials under {table_dir!r} — run the "
            "maintenance stream with this view enabled (or refresh_partials)"
        )
    missing = sorted(set(data) - set(have))
    if missing:
        raise RuntimeError(
            f"{spec.name!r} partials missing for data buckets {missing} of "
            f"{table_dir!r} — refresh before reading"
        )
    partials = spark.read.parquet(
        *[os.path.join(_view_dir(table_dir, spec), f"part={b}") for b in have]
    )
    return partials.groupBy(*spec.group_cols).agg(*spec.agg_exprs())


# ---------------------------------------------------------------------------
# compatibility wrappers (the degree view predates the spec machinery)
# ---------------------------------------------------------------------------


def refresh_degree_partials(
    spark: SparkSession, table_dir: str, touched_buckets: list[int]
) -> list[int]:
    return refresh_partials(spark, table_dir, touched_buckets, DEGREE_VIEW)


def read_kg_degree(spark: SparkSession, table_dir: str) -> DataFrame:
    return read_view(spark, table_dir, DEGREE_VIEW)
