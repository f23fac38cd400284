"""Golden-comparison evaluation job (reference results/*/scores.py main flow,
SURVEY.md §3.3) as a spark-submit entrypoint:

  spark-submit --py-files article_extraction_spark.zip jobs/evaluate.py \
      --predictions /path/preds.parquet --out /path/metrics

predictions schema: (model, category, idx, true, predicted) — the flat
analog of the reference's all_results.json (FIXTURES.md §5). Produces:
  out/rows/      per-row char + semantic metrics (+ cumulative means)
  out/summary/   per-(model,category) summary, upserted by key
"""

from __future__ import annotations

import argparse
import json

from article_extraction_spark.eval_metrics import (
    cumulative_mean_by,
    evaluate,
    summarize,
    write_summary_upsert,
)
from article_extraction_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--predictions", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    spark = get_spark(app_name="evaluate")
    spark.sparkContext.setLogLevel("WARN")

    preds = spark.read.parquet(args.predictions)
    scored = evaluate(preds)
    scored = cumulative_mean_by(scored, "idx", "exact", ["model", "category"])
    scored.write.mode("overwrite").parquet(f"{args.out}/rows")

    summary = summarize(spark.read.parquet(f"{args.out}/rows"), ["model", "category"])
    write_summary_upsert(spark, summary, f"{args.out}/summary")
    rows = summary.collect()
    print(json.dumps({"groups": len(rows), "n_rows": sum(r["n"] for r in rows)}))
    spark.stop()


if __name__ == "__main__":
    main()
