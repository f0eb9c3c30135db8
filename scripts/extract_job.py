"""spark-submit entry point for the extraction pipeline (north-rule packaging).

Run on a cluster:

    ZIP=$(python -c "from pdf_extractor_spark.session import package_zip; print(package_zip())")
    spark-submit --py-files "$ZIP" \
        scripts/extract_job.py --input s3://crawl/pages --output s3://out/docs \
        --buckets 64 [--pages-table] [--no-resume]

Local smoke (what tests/test_submit.py does):

    spark-submit --master local[4] --py-files <zip> scripts/extract_job.py \
        --synthetic 200 --output /tmp/docs_out --buckets 4

The job body is the bucketed, checkpoint-resumable runner
(plans/pipeline.run_extraction): each url-hash bucket is one idempotent
job + manifest row; a killed run resumes at the first incomplete bucket.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="input pages table path (parquet/iceberg)")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic docs instead of reading --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--pages-table", action="store_true",
                    help="also write the page/block-level long table")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--input-snapshot", default="",
                    help="lineage tag recorded in the checkpoint manifest")
    args = ap.parse_args()

    # Under spark-submit the session already exists; builder just adopts it.
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # Import AFTER session adoption so --py-files zip is on the path.
    from pdf_extractor_spark.plans.pipeline import run_extraction
    from pdf_extractor_spark.sources.pages import corpus_df, read_pages

    if args.synthetic:
        src = corpus_df(spark, args.synthetic, parts=max(4, args.buckets))
    elif args.input:
        src = read_pages(spark, args.input)
    else:
        ap.error("one of --input / --synthetic is required")
        return

    totals = run_extraction(
        spark,
        src,
        args.output,
        n_buckets=args.buckets,
        resume=not args.no_resume,
        write_pages_table=args.pages_table,
        input_snapshot=args.input_snapshot,
    )
    print(json.dumps(totals))


if __name__ == "__main__":
    sys.exit(main())
