"""The create_tables.py corpus build as one Spark job (reference
create_tables.py:10-50, traced in SURVEY.md §3.1):

  1-3  dims: hardware + country CSVs → cleaned dimension parquet
  4    epoch CSV → typed fact table (rename, synth id, coercion dispatch)
  5    deterministic seeded split (train/test/dev)
  6    DOWNLOAD: solve urls → fetch (fake kernel in-sandbox) → paper_document
       with key-level anti-join resume
  7    CONVERT_TO_TXT: paper_document → paper_text (drop empty), resume
  8    paper_information_from_epoch: coercions + fuzzy joins (variant table)

Usage:
  spark-submit --py-files article_extraction_spark.zip jobs/build_corpus.py \
      --epoch-csv ... --hardware-csv ... --country-csv ... --out /path
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from article_extraction_spark.session import get_spark, path_exists


def build_corpus(
    spark: SparkSession,
    epoch_csv: str,
    hardware_csv: str,
    country_csv: str,
    out_dir: str,
    splits: tuple[float, float, float] = (0.005, 0.99, 0.005),  # create_tables.py:27
    seed: int = 42,
    fetch_splits: tuple[str, ...] = ("train", "dev"),  # create_tables.py:30-31
) -> dict:
    from article_extraction_spark.extract.udfs import extract_stage
    from article_extraction_spark.extraction.enrich import informations_from_epoch
    from article_extraction_spark.functions.urls import solve_url_col
    from article_extraction_spark.operators.split import deterministic_split
    from article_extraction_spark.sinks import create_or_replace, variant_table_path
    from article_extraction_spark.sources import (
        fetch_documents,
        load_country_csv,
        load_epoch_csv,
        load_hardware_csv,
    )

    stats: dict = {}

    hardware = load_hardware_csv(spark, hardware_csv)
    create_or_replace(hardware, f"{out_dir}/hardware")
    country = load_country_csv(spark, country_csv)
    create_or_replace(country, f"{out_dir}/country")

    epoch = load_epoch_csv(spark, epoch_csv)
    create_or_replace(epoch, f"{out_dir}/epoch")

    train, test, dev = splits
    split_df = deterministic_split(
        epoch.select("id_paper"), "id_paper", train=train, test=test, dev=dev, seed=seed
    )
    create_or_replace(split_df, f"{out_dir}/epoch_split")

    # DOWNLOAD stage: split filter (J1 analog) → solve url → anti-join resume
    # (J2/P3) → fetch → append
    epoch = spark.read.parquet(f"{out_dir}/epoch")
    split_df = spark.read.parquet(f"{out_dir}/epoch_split")
    candidates = (
        split_df.where(F.col("split").isin(*fetch_splits))
        .join(epoch.select("id_paper", "link"), "id_paper", "left")
        .withColumn("document_url", solve_url_col(F.col("link")))
        .where(F.col("document_url").isNotNull())
    )
    doc_path = f"{out_dir}/paper_document"
    existing = spark.read.parquet(doc_path) if path_exists(spark, doc_path) else None
    if existing is not None:
        candidates = candidates.join(existing.select("id_paper"), "id_paper", "left_anti")
    fetched = fetch_documents(candidates, "document_url", "id_paper").where(
        F.col("fetch_error").isNull() & F.col("document").isNotNull()
    )
    fetched.drop("fetch_error").write.mode("append").parquet(doc_path)
    stats["documents"] = spark.read.parquet(doc_path).count()

    # CONVERT_TO_TXT stage (reference load_texts): binary payloads → text,
    # empty conversions dropped, key-level resume
    docs = spark.read.parquet(doc_path)
    text_path = f"{out_dir}/paper_text"
    done = spark.read.parquet(text_path) if path_exists(spark, text_path) else None
    if done is not None:
        docs = docs.join(done.select("id_paper"), "id_paper", "left_anti")
    # the binary column passes straight through Arrow as bytes; the kernel's
    # bytes path (decode utf-8 ignore / raw PDF) handles it natively
    converted = extract_stage(
        docs.select(
            "id_paper", F.col("document_type").alias("doc_kind"), F.col("document").alias("text")
        )
    ).select("id_paper", F.col("extracted_text").alias("text"))
    converted.where(F.length("text") > 0).write.mode("append").parquet(text_path)
    stats["texts"] = spark.read.parquet(text_path).count()

    # paper_information_from_epoch (variant table, reference create_tables:48-50)
    info = informations_from_epoch(epoch, country, hardware)
    create_or_replace(info, variant_table_path(out_dir, "from_epoch"))
    stats["informations"] = spark.read.parquet(variant_table_path(out_dir, "from_epoch")).count()
    return stats


def main() -> None:  # pragma: no cover - CLI wrapper
    ap = argparse.ArgumentParser()
    ap.add_argument("--epoch-csv", required=True)
    ap.add_argument("--hardware-csv", required=True)
    ap.add_argument("--country-csv", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spark = get_spark(app_name="build-corpus")
    print(build_corpus(spark, args.epoch_csv, args.hardware_csv, args.country_csv, args.out))


if __name__ == "__main__":  # pragma: no cover
    main()
