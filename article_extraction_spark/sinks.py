"""Sinks S8-S12 (reference SURVEY.md §2.1) on the parquet-manifest layer
(Iceberg jars absent; every function notes its Iceberg twin).

S8  full-replace        → overwrite            (≙ createOrReplace)
S9  batched append      → append               (≙ .append(); per-partition
                           Arrow writes replace the reference's BATCH=20
                           hand batching, paper_document_table.py:114-158)
S10 upsert by key       → anti-join + union + overwrite
                           (≙ MERGE INTO ... WHEN MATCHED/NOT MATCHED)
S11 CSV metric sinks    → csv overwrite / keyed upsert
S12 DDL variants        → table-name templating (≙ tometadata variants,
                           paper_information_table.py:359-363)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .session import hadoop_path, path_exists


def create_or_replace(df: DataFrame, path: str) -> None:
    """S8 (reference epoch_table.py:192 to_sql if_exists='replace')."""
    df.write.mode("overwrite").parquet(path)


def append(df: DataFrame, path: str) -> None:
    """S9 — one atomic job commit instead of 20-row transactions."""
    df.write.mode("append").parquet(path)


def upsert_by_key(spark: SparkSession, src: DataFrame, path: str, keys: list[str]) -> None:
    """S10: update-else-insert (reference paper_information_table.py:296-303).

    Parquet emulation of MERGE: keep destination rows whose key is absent
    from src (left_anti), union src, rewrite. On Iceberg this is a single
    ``MERGE INTO dst USING src ON keys WHEN MATCHED THEN UPDATE SET * WHEN
    NOT MATCHED THEN INSERT *`` with snapshot isolation; at 100 TB pair it
    with partition pruning on the key's bucket so only touched files rewrite.
    """
    if path_exists(spark, path):
        dest = spark.read.parquet(path)
        merged = dest.join(src.select(*keys).distinct(), keys, "left_anti").unionByName(
            src, allowMissingColumns=True
        )
        # stage first: the plan reads the files it is about to overwrite
        tmp = path + "__staging"
        merged.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
        fs, staging = hadoop_path(spark, tmp)
        fs.delete(staging, True)
    else:
        src.write.mode("overwrite").parquet(path)


def write_csv_metrics(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S11 (reference scores.py:434-460): single-file CSV for small metric
    tables (coalesce(1) is fine — metrics are tiny by construction)."""
    df.coalesce(1).write.mode(mode).option("header", True).csv(path)


def variant_table_path(base_dir: str, variant: str) -> str:
    """S12: named table variants of a fixed schema (reference
    _get_variant_table :359-363 — ``paper_information_<variant>``)."""
    return os.path.join(base_dir, f"paper_information_{variant}")
