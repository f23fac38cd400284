"""spark-submit job: time the full extraction stage at a given parallelism.

Deployment contract (north rule): runs via
  spark-submit --master local[N] --py-files article_extraction_spark.zip \
      jobs/extract_bench.py --sf-dir /root/testdata/sf0.1 --reps 40

Prints one JSON line {"master", "turns", "seconds", "turns_per_sec"}.
"""

from __future__ import annotations

import argparse
import json
import os
import tempfile
import time

from pyspark.sql import functions as F

from article_extraction_spark.extract.udfs import extract_stage
from article_extraction_spark.fixtures.synth import amplified_transcripts
from article_extraction_spark.pipeline import convert_transcripts
from article_extraction_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=40)
    ap.add_argument("--iterations", type=int, default=3)
    args = ap.parse_args()

    spark = get_spark(app_name="extract-bench")
    spark.sparkContext.setLogLevel("ERROR")
    master = spark.sparkContext.master
    cores = spark.sparkContext.defaultParallelism

    # materialize the corpus as compressed parquet (the production input
    # shape — columnar scan, not an uncompressed in-memory cache whose
    # bandwidth-bound reads would dominate the timed span)
    corpus_path = os.path.join(tempfile.gettempdir(), f"bench_corpus_{args.reps}.parquet")
    if not os.path.exists(corpus_path):
        # fixed file count so the scan parallelism is independent of the
        # master that happened to materialize the corpus
        amplified_transcripts(spark, args.sf_dir, reps=args.reps).repartition(64).write.mode(
            "overwrite"
        ).parquet(corpus_path)
    transcripts = spark.read.parquet(corpus_path)
    n = transcripts.count()

    # warm the python workers (imports of pandas/pyarrow/the engine zip)
    # outside the timed span — we measure steady-state throughput
    extract_stage(
        spark.range(cores * 2).select(
            F.lit("html").alias("doc_kind"), F.lit("<p>warm</p>").alias("text")
        )
    ).write.format("noop").mode("overwrite").save()

    # repeat and take the best run: the sandbox is a shared host with
    # fluctuating capacity; min is the standard noise-robust estimator
    times = []
    for _ in range(args.iterations):
        t0 = time.perf_counter()
        convert_transcripts(transcripts).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    dt = min(times)

    print(
        json.dumps(
            {
                "master": master,
                "turns": n,
                "seconds": round(dt, 3),
                "turns_per_sec": round(n / dt, 1),
                "all_seconds": [round(x, 3) for x in times],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
