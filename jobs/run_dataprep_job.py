"""spark-submit entry point for the training-data curation pipeline.

Cluster usage (same packaging contract as the KG job):

    jobs/package.sh
    spark-submit --py-files mehari_spark.zip jobs/run_dataprep_job.py \
        --input <documents parquet path> --output <out dir> [--buckets 64]

Sandbox smoke:

    PYTHONPATH=. python jobs/run_dataprep_job.py --sf-dir /root/testdata/sf0.001 \
        --output /tmp/dataprep_out
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description="mehari_spark dataprep pipeline")
    ap.add_argument("--input", help="documents parquet path (doc_id, lang, text)")
    ap.add_argument("--sf-dir", help="testdata sf dir (uses its documents.parquet)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--threshold", type=float, default=0.95)
    args = ap.parse_args()
    if not args.input and not args.sf_dir:
        ap.error("one of --input / --sf-dir is required")

    from mehari_spark.plans.dataprep import run_dataprep
    from mehari_spark.session import job_session

    spark = job_session("mehari-spark-dataprep")

    path = args.input or f"{args.sf_dir}/documents.parquet"
    docs = spark.read.parquet(path)
    counters = run_dataprep(
        spark,
        docs,
        args.output,
        n_buckets=args.buckets,
        near_dup_threshold=args.threshold,
    )
    print(json.dumps(counters))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
