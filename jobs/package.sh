#!/usr/bin/env bash
# Package mehari_spark for spark-submit --py-files (north_rule contract).
# Usage: jobs/package.sh [out.zip]
set -euo pipefail
cd "$(dirname "$0")/.."
out="${1:-mehari_spark.zip}"
rm -f "$out"
zip -qr "$out" mehari_spark -x '*__pycache__*'
echo "wrote $out"
echo "submit: spark-submit --py-files $out jobs/run_pipeline_job.py --input <transcripts> --output <dir>"
echo "stream: spark-submit --py-files $out jobs/run_stream_job.py <kg|span|dedup|neardup|ingest|sessions> --input <arrival dir> --table <dir> --checkpoint <dir>"
