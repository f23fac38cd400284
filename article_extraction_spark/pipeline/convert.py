"""The convert_to_txt stage as a Spark plan (reference
tables/paper_text_table.py:113-168, re-expressed declaratively).

Plan shape, one straight chain (all lazily composed; Catalyst prunes and
pushes down):

  scan transcripts
    → one projection: classify payload kind (native expressions,
      codegen'd) and n_source_bytes
    → salted repartition of every row (skew handling), in whole waves of
      cores sized from the plan's size statistic (byte_balanced_partitions)
    → extract_stage: one mapInArrow over every row (text + spans)
    → n_extracted_chars, then drop empty extractions (reference :153-155)

Stable ``(conv_id, turn_idx)`` ordering is a property of *consumption*, not
storage: ordered_output() range-partitions + sorts for export, with AQE
sizing that exchange; equality checks always join on the key pair
(SURVEY.md §7.4 determinism note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extract.udfs import classify_payload_col, extract_stage
from .partitioning import byte_balanced_partitions, salted_repartition


def classify_turns(transcripts: DataFrame) -> DataFrame:
    """The projection in front of the extraction stage: the payload kind
    and ``n_source_bytes``, both computed JVM-side and passed through the
    stage untouched."""
    return transcripts.select(
        "conv_id",
        "turn_idx",
        classify_payload_col(F.col("text")).alias("doc_kind"),
        F.octet_length("text").cast("long").alias("n_source_bytes"),
        "text",
    )


def convert_transcripts(
    transcripts: DataFrame,
    num_partitions: int | None = None,
    drop_empty: bool = True,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extracted turns.

    Output schema: EXTRACTED_TURNS_SCHEMA (conv_id, turn_idx, doc_kind,
    extracted_text, spans, n_source_bytes, n_extracted_chars).

    Every row is salted-repartitioned on (conv_id, turn_idx) before
    extraction, so a source partitioned by conv_id (Iceberg bucket(conv_id)
    tables, the 10^12-turn deployment) can't straggle one task on a
    mega-conversation. PDFs extract in stream order ("simple" mode,
    byte-parity with the reference); the layout parser and the readability
    columns are ``extract_stage`` options.
    """
    if num_partitions is None:
        num_partitions = byte_balanced_partitions(transcripts)

    extracted = extract_stage(
        salted_repartition(classify_turns(transcripts), num_partitions, "conv_id", "turn_idx")
    ).select(
        "conv_id", "turn_idx", "doc_kind", "extracted_text", "spans", "extract_error",
        "n_source_bytes", F.length("extracted_text").cast("long").alias("n_extracted_chars"),
    )
    if drop_empty:
        # empty conversions are dropped (reference paper_text_table.py:153-155);
        # errored rows extract to "" and drop with them — lineage accounts for
        # them in the drop_empty=False (checkpoint) path
        extracted = extracted.where(F.length("extracted_text") > 0).drop("extract_error")
    return extracted


def ordered_output(extracted: DataFrame) -> DataFrame:
    """Range-partition + sort for stable (conv_id, turn_idx) export order.

    A global orderBy would funnel through one post-shuffle sort of everything;
    repartitionByRange + sortWithinPartitions gives globally ordered output
    files with the sort parallelized per range — the scalable form. AQE
    sizes the range exchange and merges only adjacent ranges, so the order
    holds at any width.
    """
    return extracted.repartitionByRange("conv_id", "turn_idx").sortWithinPartitions(
        "conv_id", "turn_idx"
    )
