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

from ..extract.udfs import READABILITY_COLUMNS, classify_payload_col, extract_stage
from .partitioning import byte_balanced_partitions, salted_repartition


def convert_transcripts(
    transcripts: DataFrame,
    num_partitions: int | None = None,
    drop_empty: bool = True,
    with_readability: bool = False,
    pdf_mode: str = "simple",
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extracted turns.

    Output schema: EXTRACTED_TURNS_SCHEMA (conv_id, turn_idx, doc_kind,
    extracted_text, spans, n_source_bytes, n_extracted_chars), plus the
    readability scorer's columns with ``with_readability``: readability_text,
    readability_blocks, readability_max_score and link_density (null on
    non-html rows).

    Every row is salted-repartitioned on (conv_id, turn_idx) before
    extraction, so a source partitioned by conv_id (Iceberg bucket(conv_id)
    tables, the 10^12-turn deployment) can't straggle one task on a
    mega-conversation.

    ``pdf_mode``: "simple" (default — stream-order text, byte-parity with
    the reference's extraction) or "layout" (extract/pdf_layout.py —
    column detection, reading-order sort, running header/footer removal;
    an intentional, opt-in deviation from reference parity).
    """
    if num_partitions is None:
        num_partitions = byte_balanced_partitions(transcripts)

    # n_source_bytes is computed JVM-side before the stage and passes
    # through it untouched
    classified = transcripts.select(
        "conv_id",
        "turn_idx",
        classify_payload_col(F.col("text")).alias("doc_kind"),
        F.octet_length("text").cast("long").alias("n_source_bytes"),
        "text",
    )
    rd_cols = READABILITY_COLUMNS if with_readability else []
    extracted = extract_stage(
        salted_repartition(classified, num_partitions, "conv_id", "turn_idx"),
        pdf_mode=pdf_mode,
        with_readability=with_readability,
    ).select(
        "conv_id", "turn_idx", "doc_kind", "extracted_text", "spans", "extract_error",
        "n_source_bytes", *rd_cols,
        F.length("extracted_text").cast("long").alias("n_extracted_chars"),
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
