"""The one commit protocol for every on-disk table: the commit log, the
staged directory swap, and crash repair.

Mehari commits RocksDB writes in batches and records every build decision
in a ``report.jsonl`` (db/mod.rs:208-309). The analog here is a directory
tree per table plus an append-only JSONL log at ``<root>/_checkpoints.jsonl``.
Every writer (bucketed writes, MERGE, compaction, view refresh, both
streams) commits through this module, so the rules below hold everywhere:

- **The log.** Rows are appended as ``json.dumps(row, sort_keys=True)``
  and read back through one reader, ``records``, that filters on any row
  keys. ``check_layout`` fails fast when a restart asks for a layout (a
  bucket modulus, a key column) other than the one the log recorded.
  ``compact_log`` rotates the log down to its load-bearing rows, and
  ``mark_epoch`` does that every ``ROTATE_EVERY`` applied stream epochs.
- **The swap.** A writer stages its output under ``open_staging(root,
  tag)`` (underscore-prefixed, so invisible to readers), then ``swap``
  renames the live dir aside to ``<final>.old``, moves the staged dir in
  and drops the aside dir. The commit row is appended only after the
  swap, so the log never marks as committed data that did not land.
- **Repair.** A crash mid-swap leaves ``<final>.old``; ``repair(root)``
  rolls it forward (the new dir landed: drop the aside) or back (restore
  it). A many-to-one publish (``swap`` with ``covers``) is logged before
  its rename, and ``repair`` finishes one whose destination landed by
  dropping the covered sources.

Row counts of staged data come from the parquet footers (``staged_rows``),
never from a Spark read-back. ``step`` is a no-op hook called between swap
steps and after each log append; tests replace it to inject crashes.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq

LOG_NAME = "_checkpoints.jsonl"
# applied stream epochs between two rotations of the table's log
ROTATE_EVERY = 64


def step(point: str, target: str) -> None:
    """Crash-injection hook: runs after each swap step and log append."""


# --- the log -----------------------------------------------------------------


def log_path(root: str) -> str:
    return os.path.join(root, LOG_NAME)


def append(root: str, record: dict) -> None:
    os.makedirs(root, exist_ok=True)
    with open(log_path(root), "a") as f:
        f.write(json.dumps(record, sort_keys=True) + "\n")
    step("appended", root)


def records(root: str, **where) -> list[dict]:
    """The log's rows in append order, keeping those whose keys equal
    every ``where`` value (e.g. ``status="committed"``)."""
    path = log_path(root)
    if not os.path.exists(path):
        return []
    with open(path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    return [r for r in rows if all(r.get(k) == v for k, v in where.items())]


def check_layout(root: str, **layout) -> bool:
    """Raise ``ValueError`` if any logged row records a layout key with a
    value other than the requested one (None requests nothing). Resuming
    under another bucket modulus or key would skip or prune buckets whose
    contents hash differently. Returns whether the log records any of
    the keys."""
    recorded = False
    for rec in records(root):
        for key, want in layout.items():
            if key not in rec:
                continue
            recorded = True
            if want is not None and rec[key] != want:
                raise ValueError(
                    f"layout mismatch in {root}: committed with "
                    f"{key}={rec[key]!r}, resume requested {key}={want!r}"
                )
    return recorded


class EpochTracker:
    """Applied stream epochs in O(gaps) memory: a watermark (every epoch
    <= it is applied) plus the applied epochs past the first gap.
    Expanding a rotated watermark row back into ``range(max + 1)`` would
    make the set grow with stream age, which rotation exists to stop.
    ``len`` is the number of applied epochs."""

    def __init__(self) -> None:
        self.watermark = -1
        self.extras: set[int] = set()

    def add(self, epoch: int) -> None:
        if int(epoch) > self.watermark:
            self.extras.add(int(epoch))
        self._advance()

    def absorb(self, rec: dict) -> None:
        """Fold in one ``epoch_done`` or ``epoch_watermark`` log row."""
        if rec["status"] == "epoch_done":
            self.add(rec["epoch"])
        elif int(rec["max_epoch"]) > self.watermark:
            self.watermark = int(rec["max_epoch"])
            self.extras = {e for e in self.extras if e > self.watermark}
            self._advance()

    def _advance(self) -> None:
        while self.watermark + 1 in self.extras:
            self.watermark += 1
            self.extras.discard(self.watermark)

    def rows(self, stage: str, scope) -> list[dict]:
        """The rotated log rows that rebuild this tracker."""
        out = []
        if self.watermark >= 0:
            out.append(
                {
                    "status": "epoch_watermark",
                    "stage": stage,
                    "scope": scope,
                    "max_epoch": self.watermark,
                }
            )
        out += [
            {"status": "epoch_done", "stage": stage, "scope": scope, "epoch": e}
            for e in sorted(self.extras)
        ]
        return out

    def __contains__(self, epoch: int) -> bool:
        return int(epoch) <= self.watermark or int(epoch) in self.extras

    def __len__(self) -> int:
        return self.watermark + 1 + len(self.extras)


_EPOCH_ROWS = ("epoch_done", "epoch_watermark")


def epoch_tracker(root: str, stage: str, scope: str) -> EpochTracker:
    """Epochs of the ``(stage, scope)`` stream that completed. ``scope``
    is the streaming checkpoint identity: epoch ids restart at 0 under a
    fresh checkpoint, so they are unique only within one scope."""
    tracker = EpochTracker()
    for rec in records(root, stage=stage, scope=scope):
        if rec.get("status") in _EPOCH_ROWS:
            tracker.absorb(rec)
    return tracker


def applied_epochs(root: str, stage: str, scope: str) -> set[int]:
    """``epoch_tracker`` as a materialized set, for tools and tests over
    finite streams."""
    tracker = epoch_tracker(root, stage, scope)
    return set(range(tracker.watermark + 1)) | tracker.extras


def mark_epoch(
    root: str, stage: str, scope: str, epoch: int, tracker: EpochTracker, **extra
) -> None:
    """Log epoch ``epoch`` as fully applied, add it to ``tracker``, and
    rotate the log every ``ROTATE_EVERY`` applied epochs."""
    append(
        root,
        {"status": "epoch_done", "stage": stage, "scope": scope,
         "epoch": int(epoch), **extra},
    )
    tracker.add(epoch)
    if len(tracker) % ROTATE_EVERY == 0:
        compact_log(root)


def _op_key(rec: dict) -> tuple:
    """What a ``staged`` row and the row that closes it share."""
    return tuple(rec.get(k) for k in ("stage", "run_id", "bucket", "dest"))


def compact_log(root: str) -> dict:
    """Rotate the append-only log down to the rows its readers need, so
    an always-on stream's log stays O(buckets + scopes), not O(age):

    - the LAST ``committed`` row per (stage, bucket): the committed bucket
      set and its layout check are unchanged;
    - a ``staged`` row only while no later ``committed`` or
      ``compact_done`` row closes it (a possibly in-flight swap);
      ``compact_done`` rows drop with the rows they close;
    - per (stage, scope), the ``epoch_done`` rows collapse to one
      ``epoch_watermark`` row plus the epochs past the first gap;
    - rows of any other status are kept verbatim.

    Written to a temp file and ``os.replace``d, so a crash leaves the old
    or the new log. Idempotent. Returns ``{"rows_before", "rows_after"}``."""
    recs = records(root)
    if not recs:
        return {"rows_before": 0, "rows_after": 0}
    last_committed: dict[tuple, int] = {}
    closed_at: dict[tuple, int] = {}
    epochs: dict[tuple, EpochTracker] = {}
    for i, rec in enumerate(recs):
        status = rec.get("status")
        if status in ("committed", "compact_done"):
            closed_at[_op_key(rec)] = i
        if status == "committed":
            last_committed[(rec.get("stage"), rec.get("bucket"))] = i
        elif status in _EPOCH_ROWS:
            key = (rec.get("stage"), rec.get("scope"))
            epochs.setdefault(key, EpochTracker()).absorb(rec)

    kept: list[dict] = []
    for i, rec in enumerate(recs):
        status = rec.get("status")
        if status == "committed":
            if last_committed[(rec.get("stage"), rec.get("bucket"))] == i:
                kept.append(rec)
        elif status == "staged":
            if closed_at.get(_op_key(rec), -1) < i:
                kept.append(rec)
        elif status not in ("compact_done",) + _EPOCH_ROWS:
            kept.append(rec)
    for (stage, scope), tracker in sorted(epochs.items(), key=str):
        kept += tracker.rows(stage, scope)

    tmp = log_path(root) + ".compact.tmp"
    with open(tmp, "w") as f:
        for rec in kept:
            f.write(json.dumps(rec, sort_keys=True) + "\n")
    os.replace(tmp, log_path(root))
    return {"rows_before": len(recs), "rows_after": len(kept)}


# --- the swap ----------------------------------------------------------------


def open_staging(root: str, tag: str) -> str:
    """A new staging path under ``root`` for the caller ``tag``. Stale
    staging of the same tag (a killed run's, never committed) is swept
    first; other tags' staging is left alone, so a bucketed write never
    sweeps a MERGE's in-flight staging."""
    prefix = os.path.join(root, f"_staging_{tag}_")
    for stale in glob.glob(glob.escape(prefix) + "*"):
        shutil.rmtree(stale, ignore_errors=True)
    return prefix + uuid.uuid4().hex[:12]


def staged_rows(path: str) -> int:
    """Rows of the parquet files directly under ``path``, from their
    footers (no Spark job); a dir that was never written holds 0 rows."""
    return sum(
        pq.read_metadata(f).num_rows
        for f in glob.glob(os.path.join(glob.escape(path), "*.parquet"))
    )


def swap(
    staged: str,
    final: str,
    covers=(),
    log_root: str | None = None,
    stage: str | None = None,
) -> None:
    """Publish the dir ``staged`` as ``final``, crash-atomically.

    The live ``final`` is renamed aside to ``<final>.old`` (never deleted
    before the new data is in place), ``staged`` moves in, then the aside
    dir goes. ``covers`` makes it a many-to-one publish: the listed
    source dirs, whose content ``staged`` holds, are dropped after the
    move. Such a publish is logged to ``log_root`` under ``stage``
    (``staged`` before, ``compact_done`` after) because only the log
    knows the cover list; it may not replace a live ``final``, which
    would otherwise be one of its own sources or unrepairable."""
    if covers and (final in covers or os.path.exists(final)):
        shutil.rmtree(staged, ignore_errors=True)
        raise RuntimeError(
            f"publish to {final}: the destination exists (one of its own "
            "sources) — aborted"
        )
    if covers:
        append(
            log_root,
            {"stage": stage, "status": "staged", "dest": final,
             "covers": list(covers)},
        )
    old = final + ".old"
    step("begin", final)
    if os.path.exists(final):
        os.replace(final, old)
        step("aside", final)
    os.replace(staged, final)
    step("moved", final)
    for d in covers:
        shutil.rmtree(d, ignore_errors=True)
    step("covered", final)
    shutil.rmtree(old, ignore_errors=True)
    step("dropped", final)
    if covers:
        append(log_root, {"stage": stage, "status": "compact_done", "dest": final})


def repair(root: str) -> list[str]:
    """Finish or undo every swap under ``root`` that a crash interrupted;
    returns the repaired targets.

    - ``<final>.old`` with ``final`` present: the new data landed, drop
      the aside dir (roll forward). Without ``final``: the crash hit
      between the two renames, restore it (roll back; the writer's retry
      re-applies its change).
    - a logged many-to-one publish whose destination landed: drop the
      covered sources it still lists and log it done. One whose
      destination never landed needs nothing; its staging is swept when
      the writer next opens staging."""
    repaired: list[str] = []
    pending: dict[str, dict] = {}
    for rec in records(root):
        if rec.get("status") == "staged" and "covers" in rec:
            pending[rec["dest"]] = rec
        elif rec.get("status") == "compact_done":
            pending.pop(rec.get("dest"), None)
    for dest, rec in pending.items():
        if os.path.isdir(dest):
            for d in rec["covers"]:
                shutil.rmtree(d, ignore_errors=True)
            append(
                root,
                {"stage": rec["stage"], "status": "compact_done", "dest": dest,
                 "repaired": True},
            )
            repaired.append(dest)
    for old in sorted(glob.glob(os.path.join(glob.escape(root), "*.old"))):
        final = old[: -len(".old")]
        if os.path.exists(final):
            shutil.rmtree(old)
        else:
            os.replace(old, final)
        repaired.append(final)
    return repaired


def publish_file(df, dest: str) -> str:
    """Write the DataFrame ``df`` as ONE parquet file at ``dest``: Spark
    writes a staging dir beside it and the single part file is renamed
    into place, so a file-source stream listing the directory sees the
    whole file or none. Rewriting the same ``dest`` replaces it."""
    stage = open_staging(os.path.dirname(dest), "file")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))
        if len(part) != 1:
            raise RuntimeError(
                f"expected exactly one part file in {stage}, got {len(part)}"
            )
        os.replace(part[0], dest)
        return dest
    finally:
        shutil.rmtree(stage, ignore_errors=True)
