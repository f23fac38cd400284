"""The extraction stream (SURVEY.md §2.10).

The reference is strictly batch with key-level incremental resume; its
Spark-native generalization is one file-source stream over the transcripts
directory: ``streaming_extract`` runs every row through the same
classify projection and Arrow extraction stage as the batch plan, and
``run_available_now`` writes it to a parquet sink with
``Trigger.AvailableNow`` — process everything present, commit offsets to
the checkpoint, stop. The next run resumes from the checkpoint: the
reference's "resume from what's done" with the exactly-once bookkeeping
done by the engine instead of an anti-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract.udfs import classify_payload_col, extract_stage
from ..schemas import TRANSCRIPTS_SCHEMA


def streaming_extract(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a transcripts parquet directory → extracted turns.

    Row-local plan (no shuffle) — append-mode compatible.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA).format("parquet").load(input_dir)
    )
    classified = stream.select(
        "conv_id",
        "turn_idx",
        "ts",
        "text",
        classify_payload_col(F.col("text")).alias("doc_kind"),
    )
    # every row goes through the one stage, as in the batch plan
    extracted = extract_stage(classified).select(
        "conv_id", "turn_idx", "ts", "doc_kind", "extracted_text", "spans"
    )
    return extracted.where(F.length("extracted_text") > 0)


def run_available_now(
    df: DataFrame, out_dir: str, checkpoint_dir: str, query_name: str = "extract"
) -> None:
    """Incremental batch: process all currently-available input, commit the
    checkpoint, stop. Re-running picks up only NEW files — the streaming
    twin of pipeline.checkpoint's bucket resume."""
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    q.awaitTermination()
