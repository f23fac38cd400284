"""Per-partition checkpoint + lineage + idempotent resume (north rule).

The durable unit is a hash **bucket** of conversations:
``bucket = pmod(xxhash64(conv_id, 0), n_buckets)`` — the Spark analog of
Iceberg's hidden ``bucket(N, conv_id)`` partitioning. Each run:

  1. reads the lineage table and skips buckets already completed
     (key-level incremental resume — the reference's ``_existing_ids``
     anti-membership semantics, tables/paper_text_table.py:108-110,131-138,
     lifted from row granularity to partition granularity),
  2. extracts only the pending buckets,
  3. writes output with *dynamic partition overwrite* (re-running a bucket
     replaces it rather than duplicating — idempotent retries),
  4. appends one lineage row per bucket: (partition id, n_buckets, input
     snapshot, run id, rows in/out/empty/failed, bytes in, chars out).

A destination keeps one bucket layout: resuming it with a different
``n_buckets`` is refused, since its bucket ids name other conversations.

On a cluster with Iceberg jars this maps 1:1 onto snapshot-isolated commits
(``MERGE``/``overwritePartitions``); the manifest logic here is identical,
only the commit primitive changes. Sized for 10^12 turns: n_buckets in the
tens of thousands, lineage stays tiny (one row per bucket per run).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .convert import convert_transcripts
from .partitioning import bucket_col

TURNS_SUBDIR = "turns"
LINEAGE_SUBDIR = "lineage"


def input_snapshot_id(spark: SparkSession, input_path: str) -> str:
    """Deterministic fingerprint of the input table state: hash over the
    (path, size, mtime) of every data file — the parquet-manifest analog of
    an Iceberg snapshot id (on Iceberg: read the actual snapshot id)."""
    import hashlib

    entries = []
    for root, _dirs, files in sorted(os.walk(input_path)):
        for name in sorted(files):
            if name.startswith(("_", ".")):
                continue
            full = os.path.join(root, name)
            st = os.stat(full)
            entries.append(f"{os.path.relpath(full, input_path)}:{st.st_size}:{int(st.st_mtime)}")
    digest = hashlib.sha256("\n".join(entries).encode()).hexdigest()[:16]
    return f"snap-{digest}"


def read_lineage(spark: SparkSession, dest_root: str) -> DataFrame | None:
    path = os.path.join(dest_root, LINEAGE_SUBDIR)
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def read_turns(spark: SparkSession, dest_root: str) -> DataFrame | None:
    path = os.path.join(dest_root, TURNS_SUBDIR)
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def completed_buckets(
    spark: SparkSession, dest_root: str, input_snapshot: str, n_buckets: int
) -> set[int]:
    """Buckets already converted for a given input snapshot.

    A bucket is "done" only with respect to the input-table state it was run
    against: when the input table advances to a new snapshot, new rows may
    hash into previously completed buckets, so those buckets must be
    re-extracted (dynamic partition overwrite makes the re-run idempotent).
    Raises ``ValueError`` if the lineage was written with another
    ``n_buckets``.
    """
    lineage = read_lineage(spark, dest_root)
    if lineage is None:
        return set()
    current = (F.col("input_snapshot") == input_snapshot).alias("current")
    rows = lineage.select("partition_id", "n_buckets", current).distinct().collect()
    written = {r["n_buckets"] for r in rows} - {n_buckets}
    if written:
        raise ValueError(
            f"{dest_root} was checkpointed with n_buckets={written.pop()}; "
            f"resuming it with n_buckets={n_buckets} would mix bucket layouts"
        )
    return {r["partition_id"] for r in rows if r["current"]}


def run_with_checkpoint(
    spark: SparkSession,
    transcripts: DataFrame,
    dest_root: str,
    n_buckets: int = 64,
    run_id: str = "run-0",
    input_snapshot: str = "snap-0",
    num_partitions: int | None = None,
) -> dict:
    """Execute (or resume) the extraction job. Returns run statistics."""
    turns_path = os.path.join(dest_root, TURNS_SUBDIR)
    lineage_path = os.path.join(dest_root, LINEAGE_SUBDIR)

    done = completed_buckets(spark, dest_root, input_snapshot, n_buckets)
    src = transcripts.withColumn("bucket", bucket_col(F.col("conv_id"), n_buckets))
    if done:
        src = src.where(~F.col("bucket").isin(sorted(done)))

    # keep empty extractions through the stage so lineage can count them,
    # drop them at the sink (reference paper_text_table.py:153-155)
    extracted = convert_transcripts(
        src.select("conv_id", "turn_idx", "role", "text", "tool", "ts"),
        num_partitions=num_partitions,
        drop_empty=False,
    ).withColumn("bucket", bucket_col(F.col("conv_id"), n_buckets))

    from pyspark import StorageLevel

    extracted = extracted.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        failed = F.col("extract_error").isNotNull()
        lineage_rows = (
            extracted.groupBy("bucket")
            .agg(
                F.count("*").alias("rows_in"),
                F.sum((F.length("extracted_text") > 0).cast("long")).alias("rows_out"),
                F.sum(((F.length("extracted_text") == 0) & ~failed).cast("long")).alias("rows_empty"),
                F.sum(failed.cast("long")).alias("rows_failed"),
                F.sum("n_source_bytes").alias("bytes_in"),
                F.sum(F.coalesce(F.col("n_extracted_chars"), F.lit(0))).alias("chars_out"),
                F.sum((F.col("doc_kind") == "html").cast("long")).alias("n_html"),
                F.sum((F.col("doc_kind") == "pdf").cast("long")).alias("n_pdf"),
                F.sum((F.col("doc_kind") == "txt").cast("long")).alias("n_txt"),
                F.sum((F.col("doc_kind") == "json").cast("long")).alias("n_json"),
            )
            .select(
                F.col("bucket").alias("partition_id"),
                F.lit(n_buckets).alias("n_buckets"),
                F.lit(input_snapshot).alias("input_snapshot"),
                F.lit(run_id).alias("run_id"),
                "rows_in",
                "rows_out",
                "rows_empty",
                "rows_failed",
                "bytes_in",
                "chars_out",
                "n_html",
                "n_pdf",
                "n_txt",
                "n_json",
            )
        ).collect()  # one tiny row per bucket — driver-safe at any scale

        if not lineage_rows:
            return {"buckets_processed": 0, "rows_out": 0, "resumed_from": len(done)}

        non_empty = extracted.where(F.length("extracted_text") > 0).drop("extract_error")
        (
            non_empty.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(turns_path)
        )

        spark.createDataFrame(lineage_rows).write.mode("append").parquet(lineage_path)
        return {
            "buckets_processed": len(lineage_rows),
            "rows_out": sum(r["rows_out"] for r in lineage_rows),
            "rows_empty": sum(r["rows_empty"] for r in lineage_rows),
            "resumed_from": len(done),
        }
    finally:
        extracted.unpersist()


def resume_missing_turns(
    transcripts: DataFrame, existing: DataFrame | None
) -> DataFrame:
    """Row-granular resume: anti-join candidates against already-converted
    keys (exact reference semantics, J2/P3 — paper_text_table.py:131-138)."""
    if existing is None:
        return transcripts
    done_keys = existing.select("conv_id", "turn_idx")
    return transcripts.join(done_keys, ["conv_id", "turn_idx"], "left_anti")
