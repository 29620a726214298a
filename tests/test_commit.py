"""The commit primitive on plain directories (no Spark): a kill at every
step of a swap, then repair, leaves each target whole; log rotation and
its policy over a long-lived table's log; and a guard that every
directory publish in the package goes through it."""

from __future__ import annotations

import ast
import json
import os
import shutil

import pytest

from mehari_spark.plans import commit
from mehari_spark.plans.commit import append as append_checkpoint
from mehari_spark.plans.commit import compact_log as compact_checkpoint_log
from mehari_spark.plans.lineage import _ckpt_path, load_committed
from mehari_spark.streaming.kg_stream import applied_epochs

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "mehari_spark"
)


def _write_dir(path: str, files: dict[str, str]) -> None:
    os.makedirs(path)
    for name, text in files.items():
        with open(os.path.join(path, name), "w") as f:
            f.write(text)


def _read_dir(path: str) -> dict[str, str] | None:
    if not os.path.isdir(path):
        return None
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name)) as f:
            out[name] = f.read()
    return out


OLD = {"part-0.parquet": "old rows"}
NEW = {"part-0.parquet": "new rows", "part-1.parquet": "more new rows"}
COVERS = {"epoch=0": {"a.parquet": "epoch 0"}, "epoch=1": {"b.parquet": "epoch 1"}}
MERGED = {"fp_bucket=3.parquet": "epoch 0 + epoch 1"}


def _bucket_swap(root: str) -> None:
    """A same-name swap as write_bucketed/merge do it: stage, swap, then
    the commit row."""
    staging = commit.open_staging(root, "merge")
    _write_dir(os.path.join(staging, "_bucket=0"), NEW)
    commit.swap(os.path.join(staging, "_bucket=0"), os.path.join(root, "bucket=0"))
    commit.append(root, {"status": "committed", "stage": "merge", "bucket": 0})
    shutil.rmtree(staging)


def _span_publish(root: str) -> None:
    """A many-to-one publish as span-store compaction does it."""
    base = os.path.join(root, "index")
    staging = commit.open_staging(base, "span")
    _write_dir(staging, MERGED)
    commit.swap(
        staging,
        os.path.join(base, "epoch=c0-1"),
        covers=[os.path.join(base, d) for d in sorted(COVERS)],
        log_root=root,
        stage="span_compact",
    )


def _seed(root: str, scenario: str) -> None:
    if scenario == "bucket":
        _write_dir(os.path.join(root, "bucket=0"), OLD)
    else:
        for d, files in COVERS.items():
            _write_dir(os.path.join(root, "index", d), files)


SCENARIOS = {
    "bucket": (
        _bucket_swap,
        ["begin", "aside", "moved", "covered", "dropped", "appended"],
    ),
    "span": (
        _span_publish,
        ["appended", "begin", "moved", "covered", "dropped", "appended"],
    ),
}


def _assert_whole(root: str, scenario: str) -> None:
    """Each target holds exactly its old or exactly its new content, no
    aside or staging dir is left, and the log claims only landed data."""
    leftovers = [
        os.path.join(d, n)
        for d, subdirs, _ in os.walk(root)
        for n in subdirs
        if n.endswith(".old") or n.startswith("_staging_")
    ]
    assert leftovers == []
    if scenario == "bucket":
        got = _read_dir(os.path.join(root, "bucket=0"))
        assert got in (OLD, NEW)
        if commit.records(root, status="committed"):
            assert got == NEW
        return
    base = os.path.join(root, "index")
    dest = _read_dir(os.path.join(base, "epoch=c0-1"))
    covers = {d: _read_dir(os.path.join(base, d)) for d in COVERS}
    if dest is None:
        assert covers == COVERS
        assert not commit.records(root, status="compact_done")
    else:
        assert dest == MERGED
        assert covers == {d: None for d in COVERS}
        assert commit.records(root, status="compact_done")


def test_step_sequence_is_pinned(tmp_path, monkeypatch):
    for scenario, (run, points) in SCENARIOS.items():
        root = str(tmp_path / scenario)
        _seed(root, scenario)
        seen = []
        monkeypatch.setattr(commit, "step", lambda point, target: seen.append(point))
        run(root)
        assert seen == points, scenario
        _assert_whole(root, scenario)


class Killed(Exception):
    pass


@pytest.mark.parametrize(
    "scenario,kill_at",
    [(s, k) for s, (_, points) in SCENARIOS.items() for k in range(len(points))],
)
def test_kill_at_every_step_then_repair(tmp_path, monkeypatch, scenario, kill_at):
    run, points = SCENARIOS[scenario]
    root = str(tmp_path / "t")
    _seed(root, scenario)
    calls = []

    def kill(point, target):
        calls.append(point)
        if len(calls) == kill_at + 1:
            raise Killed(point)

    with monkeypatch.context() as m, pytest.raises(Killed):
        m.setattr(commit, "step", kill)
        run(root)
    # restart: repair the tree, then the writer reopens its staging
    commit.repair(root)
    if scenario == "bucket":
        commit.open_staging(root, "merge")
    else:
        commit.open_staging(os.path.join(root, "index"), "span")
    _assert_whole(root, scenario)
    # a second repair finds nothing left to do
    assert commit.repair(root) == []


def test_repair_rolls_back_and_forward(tmp_path):
    root = str(tmp_path / "t")
    _write_dir(os.path.join(root, "bucket=0.old"), OLD)  # killed between renames
    _write_dir(os.path.join(root, "bucket=1"), NEW)  # killed before the drop
    _write_dir(os.path.join(root, "bucket=1.old"), OLD)
    assert commit.repair(root) == [
        os.path.join(root, "bucket=0"),
        os.path.join(root, "bucket=1"),
    ]
    assert _read_dir(os.path.join(root, "bucket=0")) == OLD
    assert _read_dir(os.path.join(root, "bucket=1")) == NEW
    assert sorted(os.listdir(root)) == ["bucket=0", "bucket=1"]


def test_publish_refuses_a_live_destination(tmp_path):
    base = str(tmp_path / "index")
    _write_dir(os.path.join(base, "epoch=1"), {"a.parquet": "1"})
    _write_dir(os.path.join(base, "epoch=c0-2"), {"b.parquet": "0,2"})
    staging = commit.open_staging(base, "span")
    _write_dir(staging, MERGED)
    covers = [os.path.join(base, "epoch=1"), os.path.join(base, "epoch=c0-2")]
    with pytest.raises(RuntimeError, match="one of its own sources"):
        commit.swap(staging, covers[1], covers=covers, log_root=str(tmp_path))
    assert sorted(os.listdir(base)) == ["epoch=1", "epoch=c0-2"]
    assert commit.records(str(tmp_path)) == []


def test_staging_sweep_is_per_tag(tmp_path):
    root = str(tmp_path)
    merge_stage = commit.open_staging(root, "merge")
    os.makedirs(merge_stage)
    write_stage = commit.open_staging(root, "write")
    os.makedirs(write_stage)
    commit.open_staging(root, "write")
    assert os.listdir(root) == [os.path.basename(merge_stage)]


def test_rotation_generalises_over_stages(tmp_path):
    root = str(tmp_path)
    stream = {"stage": "span_stream", "scope": "/s"}
    for e in range(5):
        commit.append(root, {"status": "epoch_done", "epoch": e, **stream})
    commit.append(root, {"status": "layout", "n_fp_buckets": 32, **stream})
    for dest, done in (("/i/epoch=c0-1", True), ("/i/epoch=c0-3", False)):
        publish = {"stage": "span_compact", "dest": dest}
        commit.append(root, {"status": "staged", "covers": ["/x"], **publish})
        if done:
            commit.append(root, {"status": "compact_done", **publish})
    res = commit.compact_log(root)
    assert res == {"rows_before": 9, "rows_after": 3}
    kept = commit.records(root)
    assert [r["status"] for r in kept] == ["layout", "staged", "epoch_watermark"]
    assert kept[1]["dest"] == "/i/epoch=c0-3"  # still open: repair needs it
    assert commit.applied_epochs(root, "span_stream", "/s") == set(range(5))
    assert commit.check_layout(root, n_fp_buckets=32)
    with pytest.raises(ValueError, match="n_fp_buckets=32.*n_fp_buckets=64"):
        commit.check_layout(root, n_fp_buckets=64)


def test_mark_epoch_rotates_every_rotate_every(tmp_path, monkeypatch):
    monkeypatch.setattr(commit, "ROTATE_EVERY", 4)
    root = str(tmp_path)
    tracker = commit.epoch_tracker(root, "kg_stream", "/s")
    for e in range(10):
        commit.mark_epoch(root, "kg_stream", "/s", e, tracker)
    # rotated at 4 and 8 applied epochs: one watermark row + epochs 8, 9
    assert len(commit.records(root)) == 3
    assert commit.applied_epochs(root, "kg_stream", "/s") == set(range(10))


# every directory and file publish goes through the commit module
RENAMES = {("os", "replace"), ("os", "rename"), ("shutil", "move")}


def test_no_hand_rolled_swaps():
    found = []
    for dirpath, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, PKG)
            if rel == os.path.join("plans", "commit.py"):
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and (node.value.id, node.attr) in RENAMES
                ):
                    found.append(f"{rel}:{node.lineno} {node.value.id}.{node.attr}")
                if isinstance(node, ast.ImportFrom) and node.module in ("os", "shutil"):
                    for alias in node.names:
                        if (node.module, alias.name) in RENAMES:
                            found.append(f"{rel}:{node.lineno} {alias.name}")
    assert found == [], "publish through plans/commit.py: " + ", ".join(found)


class TestCompactCheckpointLog:
    def _seed_log(self, d: str, n_epochs: int = 1000) -> None:
        # merge-style traffic: staged + committed per bucket per epoch,
        # then the epoch_done audit row — the always-on growth pattern
        for e in range(n_epochs):
            b = e % 8
            append_checkpoint(
                d,
                {
                    "run_id": f"epoch-{e}",
                    "bucket": b,
                    "status": "staged",
                    "stage": "merge",
                    "n_buckets": 8,
                    "key_col": "subj_id",
                },
            )
            append_checkpoint(
                d,
                {
                    "run_id": f"epoch-{e}",
                    "bucket": b,
                    "status": "committed",
                    "rows_out": 10 + e,
                    "stage": "merge",
                    "n_buckets": 8,
                    "key_col": "subj_id",
                },
            )
            append_checkpoint(
                d,
                {
                    "status": "epoch_done",
                    "stage": "kg_stream",
                    "scope": "/ck",
                    "epoch": e,
                },
            )

    def test_thousand_epochs_compact_to_bounded_log(self, tmp_path):
        d = str(tmp_path / "t")
        self._seed_log(d, 1000)
        before_epochs = applied_epochs(d, "/ck")
        before_committed = load_committed(d, n_buckets=8, key_col="subj_id")
        res = compact_checkpoint_log(d)
        assert res["rows_before"] == 3000
        # 8 latest-committed rows + 1 watermark: O(buckets+scopes), not O(age)
        assert res["rows_after"] == 9
        assert applied_epochs(d, "/ck") == before_epochs == set(range(1000))
        assert load_committed(d, n_buckets=8, key_col="subj_id") == before_committed
        # idempotent
        res2 = compact_checkpoint_log(d)
        assert res2["rows_after"] == res2["rows_before"] == 9

    def test_gap_unknown_and_inflight_rows_survive(self, tmp_path):
        d = str(tmp_path / "t")
        # epoch gap: 0,1,3 -> watermark 1 + verbatim row for 3
        for e in (0, 1, 3):
            append_checkpoint(
                d,
                {"status": "epoch_done", "stage": "kg_stream", "scope": "/a", "epoch": e},
            )
        # second scope, independent watermark
        append_checkpoint(
            d,
            {"status": "epoch_done", "stage": "kg_stream", "scope": "/b", "epoch": 0},
        )
        # trailing staged row with NO later committed cover: possibly in-flight
        append_checkpoint(
            d,
            {"run_id": "r9", "bucket": 5, "status": "staged", "stage": "merge"},
        )
        # unknown status: kept verbatim
        append_checkpoint(d, {"status": "compacted", "bucket": 2, "stage": "compact"})
        compact_checkpoint_log(d)
        with open(_ckpt_path(d)) as f:
            recs = [json.loads(line) for line in f]
        statuses = sorted(r["status"] for r in recs)
        assert statuses == [
            "compacted",
            "epoch_done",
            "epoch_watermark",
            "epoch_watermark",
            "staged",
        ]
        assert applied_epochs(d, "/a") == {0, 1, 3}
        assert applied_epochs(d, "/b") == {0}

    def test_compact_missing_log_is_noop(self, tmp_path):
        res = compact_checkpoint_log(str(tmp_path / "nope"))
        assert res == {"rows_before": 0, "rows_after": 0}
