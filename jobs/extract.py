"""THE production extraction job (north rule deliverable):

  spark-submit --master <cluster> --py-files article_extraction_spark.zip \
      jobs/extract.py --input /path/transcripts --output /path/dest \
      [--n-buckets 4096] [--run-id r7]

Reads the transcripts table (parquet directory here; Iceberg on a cluster
with the jars — identical plan), runs the convert_to_txt pipeline with
salted skew handling, checkpoints per bucket with lineage rows, and resumes
idempotently: re-running after a failure processes only missing buckets.
"""

from __future__ import annotations

import argparse
import json

from article_extraction_spark.pipeline.checkpoint import input_snapshot_id, run_with_checkpoint
from article_extraction_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--run-id", default="run-0")
    args = ap.parse_args()

    spark = get_spark(app_name="extract-transcripts")
    spark.sparkContext.setLogLevel("WARN")

    transcripts = spark.read.parquet(args.input)
    snapshot = input_snapshot_id(spark, args.input)
    stats = run_with_checkpoint(
        spark,
        transcripts,
        args.output,
        n_buckets=args.n_buckets,
        run_id=args.run_id,
        input_snapshot=snapshot,
    )
    print(json.dumps({"input_snapshot": snapshot, **stats}))
    spark.stop()


if __name__ == "__main__":
    main()
