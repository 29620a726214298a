"""The spark-submit jobs run with bare python: the job's one JSON result
line is the last line of its output, with stderr merged into stdout (no
console progress bar glued to it)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import SF_UNIT

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dataprep_job_last_line_is_json(tmp_path):
    env = {**os.environ, "PYTHONPATH": ROOT}
    proc = subprocess.run(
        [sys.executable, "jobs/run_dataprep_job.py", "--sf-dir", SF_UNIT,
         "--output", str(tmp_path / "out")],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:]
    assert "[Stage " not in proc.stdout  # the console progress bar is off
    # releasing a stage's localCheckpoint is expected, not worth a warning
    assert "was locally checkpointed" not in proc.stdout
    last = proc.stdout.splitlines()[-1]
    counters = json.loads(last)
    assert counters["n_input"] == 500
