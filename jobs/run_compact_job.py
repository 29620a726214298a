"""spark-submit entry point for the bucket-compaction maintenance job
(Iceberg rewrite_data_files analog, plans/compact.py).

Cluster usage (same packaging contract as the other jobs):

    jobs/package.sh
    spark-submit --py-files mehari_spark.zip jobs/run_compact_job.py \
        --table <bucketed table dir> [--target-files 1] [--min-files 2] \
        [--small-file-bytes 33554432] [--sort-cols doc_id]

Sandbox smoke (against a table written by run_dataprep_job):

    PYTHONPATH=. python jobs/run_compact_job.py --table /tmp/dataprep_out
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description="mehari_spark bucket compaction")
    ap.add_argument("--table", required=True, help="bucketed table directory")
    ap.add_argument("--target-files", type=int, default=1)
    ap.add_argument("--min-files", type=int, default=2)
    ap.add_argument(
        "--small-file-bytes",
        type=int,
        default=None,
        help="size-based trigger: only rewrite buckets holding >= min-files "
        "files below this size (rewrite_data_files criterion)",
    )
    ap.add_argument(
        "--sort-cols",
        default="",
        help="comma-separated columns to re-sort within each output file",
    )
    ap.add_argument("--run-id", default="compact")
    args = ap.parse_args()

    from mehari_spark.plans.compact import compact_buckets
    from mehari_spark.session import job_session

    spark = job_session("mehari-spark-compact")
    res = compact_buckets(
        spark,
        args.table,
        run_id=args.run_id,
        target_files=args.target_files,
        min_files=args.min_files,
        small_file_bytes=args.small_file_bytes,
        sort_cols=[c for c in args.sort_cols.split(",") if c] or None,
    )
    print(json.dumps(res))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
