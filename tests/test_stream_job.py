"""Smoke test of the spark-submit stream job: ``run_stream_job.run`` drives
each of the six streams over a tiny input in the shared session."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from mehari_spark.streaming.replay import write_arrival_chunk

from .conftest import SF_UNIT

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs", "run_stream_job.py"
)
_spec = importlib.util.spec_from_file_location("run_stream_job", _PATH)
job = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(job)


@pytest.mark.parametrize("stream", job.STREAMS)
def test_run_each_stream(spark, tmp_path, stream):
    out = str(tmp_path / "out")
    argv = [stream, "--table", out, "--checkpoint", str(tmp_path / "ck")]
    if stream in ("kg", "sessions"):  # seeded from the testdata dir
        argv += ["--sf-dir", SF_UNIT]
    else:
        in_dir = str(tmp_path / "in")
        docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet").where("doc_id < 40")
        write_arrival_chunk(docs, in_dir)
        argv += ["--input", in_dir]
    if stream == "kg":
        argv.append("--maintain-degree")
    stats = job.run(spark, job.parse_args(argv))

    assert stats["stream"] == stream
    assert stats["epochs_applied"] >= 1
    with open(os.path.join(out, "_metrics.jsonl")) as f:
        metrics = [json.loads(line) for line in f]
    # one metrics row set per logged epoch
    assert len({m["run_id"] for m in metrics}) == stats["epochs_applied"]
    assert {"wall_s", "state_store_bytes"} <= {m["metric"] for m in metrics}
    if stream == "kg":
        assert stats["current_rows"] > 0 and stats["degree_entities"] > 0
    elif stream == "span":
        assert stats["spans"] >= 0
    else:
        assert stats["rows_out"] > 0
    if stream == "ingest":
        assert sum(stats["verdicts"].values()) == 40
