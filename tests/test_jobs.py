"""The spark-submit jobs run with bare python: the job's one JSON result
line is the last line of its output, with stderr merged into stdout (no
console progress bar glued to it). The compaction job runs on the
dataprep job's table."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import SF_UNIT

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _job(*args: str) -> str:
    """Run one job with bare python; -> its merged stdout and stderr."""
    proc = subprocess.run(
        [sys.executable, *args],
        cwd=ROOT, env={**os.environ, "PYTHONPATH": ROOT}, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:]
    assert "[Stage " not in proc.stdout  # the console progress bar is off
    return proc.stdout


def _rows(table: str) -> list:
    """The table's rows with their bucket (staging and logs are skipped)."""
    import pyarrow.parquet as pq

    return sorted(tuple(r.values()) for r in pq.read_table(table).to_pylist())


def test_dataprep_job_last_line_is_json(tmp_path):
    out = str(tmp_path / "out")
    stdout = _job("jobs/run_dataprep_job.py", "--sf-dir", SF_UNIT, "--output", out)
    # releasing a stage's localCheckpoint is expected, not worth a warning
    assert "was locally checkpointed" not in stdout
    last = stdout.splitlines()[-1]
    counters = json.loads(last)
    assert counters["n_input"] == 500
    # the compaction job on that table: every bucket rewritten, rows unchanged
    before = _rows(out)
    stdout = _job("jobs/run_compact_job.py", "--table", out, "--min-files", "1")
    res = json.loads(stdout.splitlines()[-1])
    assert res["compacted"] and not res["skipped"]
    assert _rows(out) == before
