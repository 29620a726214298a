"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (north_rule packaging contract):

    zip -r mehari_spark.zip mehari_spark
    spark-submit --py-files mehari_spark.zip jobs/run_pipeline_job.py \
        --input <transcripts parquet/Iceberg path> \
        --output <output dir> [--buckets 64]

Sandbox smoke:

    PYTHONPATH=. python jobs/run_pipeline_job.py --sf-dir /root/testdata/sf0.001 --output /tmp/kg_out
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description="mehari_spark KG pipeline")
    ap.add_argument("--input", help="transcripts parquet path (input_hint schema)")
    ap.add_argument("--sf-dir", help="testdata sf dir (derive transcripts from documents)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=8)
    args = ap.parse_args()
    if not args.input and not args.sf_dir:
        ap.error("one of --input / --sf-dir is required")

    from mehari_spark.dictionary import demo_patterns
    from mehari_spark.plans.pipeline import run_pipeline
    from mehari_spark.session import job_session

    spark = job_session("mehari-spark-pipeline")

    if args.input:
        transcripts_df = spark.read.parquet(args.input)
    else:
        from mehari_spark.sources.transcripts import transcripts

        transcripts_df = transcripts(spark, args.sf_dir)

    metrics = run_pipeline(
        spark,
        transcripts_df,
        demo_patterns(),
        args.output,
        n_buckets=args.buckets,
    )
    print(json.dumps(metrics))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
