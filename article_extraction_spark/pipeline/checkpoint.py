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
  4. appends one lineage file of one ``schemas.LINEAGE_SCHEMA`` row per
     bucket: (partition id, n_buckets, input snapshot, run id, rows
     in/out/empty/failed, bytes in, chars out, rows per payload kind).

State is reached only through Spark's reader and writer and the session's
Hadoop ``FileSystem``, so resume works on any filesystem scheme. A missing
destination reads as ``None`` (probed with ``FileSystem.exists``, so a
fresh run starts no reader); a lineage directory with no committed file
(a crashed run's ``_temporary/``) reads as empty, and the run starts over.

A destination keeps one bucket layout: resuming it with a different
``n_buckets`` is refused, since its bucket ids name other conversations.

On a cluster with Iceberg jars this maps 1:1 onto snapshot-isolated commits
(``MERGE``/``overwritePartitions``); the manifest logic here is identical,
only the commit primitive changes. Sized for 10^12 turns: n_buckets in the
tens of thousands, lineage stays tiny (one file per run, a row per bucket).
"""

from __future__ import annotations

import hashlib

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import LINEAGE_SCHEMA
from ..session import hadoop_path, path_exists
from .convert import convert_transcripts
from .partitioning import bucket_col

TURNS_SUBDIR = "turns"
LINEAGE_SUBDIR = "lineage"


def input_snapshot_id(spark: SparkSession, input_path: str) -> str:
    """Deterministic fingerprint of the input table state: hash over the
    (path, size, mtime) of every data file, listed through the session's
    Hadoop ``FileSystem`` — the parquet-manifest analog of an Iceberg
    snapshot id (on Iceberg: read the actual snapshot id)."""
    fs, path = hadoop_path(spark, input_path)
    root = len(fs.makeQualified(path).toUri().getPath())
    files = fs.listFiles(path, True)
    entries = []
    while files.hasNext():
        st = files.next()
        if st.getPath().getName().startswith(("_", ".")):
            continue
        rel = st.getPath().toUri().getPath()[root:].lstrip("/")
        entries.append((rel, st.getLen(), st.getModificationTime() // 1000))
    lines = (f"{rel}:{size}:{mtime}" for rel, size, mtime in sorted(entries))
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return f"snap-{digest}"


def read_lineage(spark: SparkSession, dest_root: str) -> DataFrame | None:
    path = f"{dest_root}/{LINEAGE_SUBDIR}"
    return spark.read.schema(LINEAGE_SCHEMA).parquet(path) if path_exists(spark, path) else None


def read_turns(spark: SparkSession, dest_root: str) -> DataFrame | None:
    path = f"{dest_root}/{TURNS_SUBDIR}"
    return spark.read.parquet(path) if path_exists(spark, path) else None


def completed_buckets(
    spark: SparkSession, dest_root: str, input_snapshot: str, n_buckets: int
) -> set[int]:
    """Buckets already converted for a given input snapshot.

    A bucket is "done" only with respect to the input-table state it was run
    against: when the input table advances to a new snapshot, new rows may
    hash into previously completed buckets, so those buckets must be
    re-extracted (dynamic partition overwrite makes the re-run idempotent).
    Raises ``ValueError`` if the lineage was written with another
    ``n_buckets``. One filtered scan: the driver receives the current
    snapshot's rows (about one per bucket) and the foreign-layout ones.
    """
    lineage = read_lineage(spark, dest_root)
    if lineage is None:
        return set()
    wanted = (F.col("input_snapshot") == input_snapshot) | (F.col("n_buckets") != n_buckets)
    rows = lineage.where(wanted).select("partition_id", "n_buckets").collect()
    written = {r["n_buckets"] for r in rows} - {n_buckets}
    if written:
        raise ValueError(
            f"{dest_root} was checkpointed with n_buckets={written.pop()}; "
            f"resuming it with n_buckets={n_buckets} would mix bucket layouts"
        )
    return {r["partition_id"] for r in rows}


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
    done = completed_buckets(spark, dest_root, input_snapshot, n_buckets)
    if done:
        transcripts = transcripts.where(~bucket_col(F.col("conv_id"), n_buckets).isin(sorted(done)))

    # keep empty extractions through the stage so lineage can count them,
    # drop them at the sink (reference paper_text_table.py:153-155)
    extracted = convert_transcripts(
        transcripts, num_partitions=num_partitions, drop_empty=False
    ).withColumn("bucket", bucket_col(F.col("conv_id"), n_buckets))

    extracted = extracted.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        failed = F.col("extract_error").isNotNull()
        lineage_rows = (
            extracted.groupBy(
                F.col("bucket").alias("partition_id"),
                F.lit(n_buckets).alias("n_buckets"),
                F.lit(input_snapshot).alias("input_snapshot"),
                F.lit(run_id).alias("run_id"),
            )
            .agg(
                F.count("*").alias("rows_in"),
                F.sum((F.length("extracted_text") > 0).cast("long")).alias("rows_out"),
                F.sum(((F.length("extracted_text") == 0) & ~failed).cast("long")).alias("rows_empty"),
                F.sum(failed.cast("long")).alias("rows_failed"),
                F.sum(F.coalesce(F.col("n_source_bytes"), F.lit(0))).alias("bytes_in"),
                F.sum(F.coalesce(F.col("n_extracted_chars"), F.lit(0))).alias("chars_out"),
                *(
                    F.sum((F.col("doc_kind") == k).cast("long")).alias(f"n_{k}")
                    for k in ("html", "pdf", "txt", "json")
                ),
            )
        ).collect()  # one tiny row per bucket — driver-safe at any scale

        if not lineage_rows:
            return {"buckets_processed": 0, "rows_out": 0, "resumed_from": len(done)}

        non_empty = extracted.where(F.length("extracted_text") > 0).drop("extract_error")
        (
            non_empty.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(f"{dest_root}/{TURNS_SUBDIR}")
        )

        # one slice, so one lineage file per run (coalescing a list's
        # default slices costs a Python worker per slice inside one task)
        rows = spark.sparkContext.parallelize(lineage_rows, 1)
        spark.createDataFrame(rows, LINEAGE_SCHEMA).write.mode("append").parquet(
            f"{dest_root}/{LINEAGE_SUBDIR}"
        )
        return {
            "buckets_processed": len(lineage_rows),
            "rows_out": sum(r["rows_out"] for r in lineage_rows),
            "rows_empty": sum(r["rows_empty"] for r in lineage_rows),
            "resumed_from": len(done),
        }
    finally:
        extracted.unpersist()

