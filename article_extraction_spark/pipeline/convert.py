"""The convert_to_txt stage as a Spark plan (reference
tables/paper_text_table.py:113-168, re-expressed declaratively).

Plan shape (all lazily composed; Catalyst prunes/pushes down):

  scan transcripts
    → classify payload kind (native expressions, codegen'd)
    → salted repartition sized by byte volume (skew handling)
    → extract_stage: one mapInArrow over the html/pdf rows (text + spans);
      txt/json stay JVM-side
    → drop empty extractions (reference :153-155)
    → diagnostics columns

Stable ``(conv_id, turn_idx)`` ordering is a property of *consumption*, not
storage: ordered_output() range-partitions + sorts for export; equality
checks always join on the key pair (SURVEY.md §7.4 determinism note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extract.udfs import classify_payload_col, extract_stage
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
    extracted_text, spans, n_source_bytes, n_extracted_chars), plus
    readability_text and link_density with ``with_readability``.

    The html/pdf rows are salted-repartitioned on (conv_id, turn_idx) before
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

    classified = transcripts.select(
        "conv_id",
        "turn_idx",
        "text",
        classify_payload_col(F.col("text")).alias("doc_kind"),
    )
    base = ["conv_id", "turn_idx", "doc_kind"]
    src_bytes = F.octet_length("text").cast("long").alias("n_source_bytes")
    rd_cols = {"readability_text": "string", "link_density": "double"} if with_readability else {}

    # Only html/pdf genuinely need the Python kernel. txt/json are IDENTITY
    # transforms on parquet strings (parquet strings are valid UTF-8, so
    # decode('utf-8','ignore') — reference paper_text_table.py:91-104 — is a
    # no-op), and routing them through Arrow would ship the full payload to
    # Python and back: measured serialization-bound and ANTI-scaling with
    # worker count. Native path keeps them JVM-side, byte-identical.
    needs_py = classified.where(F.col("doc_kind").isin("html", "pdf"))
    passthrough = classified.where(~F.col("doc_kind").isin("html", "pdf"))

    # salt-repartition ONLY the Python-bound branch: that's where task
    # imbalance hurts (per-row parse cost), and shuffling just html/pdf
    # payloads instead of the whole corpus cuts shuffle bytes ~3× — the
    # shuffle is bandwidth-bound, i.e. a fixed cost that does not
    # parallelize away. The native branch is uniform per-row cheap.
    needs_py = salted_repartition(needs_py, num_partitions, "conv_id", "turn_idx")

    # n_source_bytes is computed JVM-side BEFORE the stage and passes
    # through untouched
    py_out = extract_stage(
        needs_py.select("conv_id", "turn_idx", "doc_kind", src_bytes, "text"),
        pdf_mode=pdf_mode,
        with_readability=with_readability,
    ).select(*base, "extracted_text", "spans", "extract_error", "n_source_bytes", *rd_cols)

    txt = F.coalesce(F.col("text"), F.lit(""))
    native_text = F.when(F.col("doc_kind").isin("txt", "json"), txt).otherwise(F.lit(""))
    native_spans = F.when(
        F.col("doc_kind").isin("txt", "json") & (F.length(txt) > 0),
        F.array(F.struct(F.lit(0).alias("start"), F.length(txt).alias("end"))),
    ).otherwise(F.array().cast("array<struct<start:int,end:int>>"))
    nat_out = passthrough.select(
        *base,
        native_text.alias("extracted_text"),
        native_spans.alias("spans"),
        F.lit(None).cast("string").alias("extract_error"),
        src_bytes,
        # readability diagnostics are html-only: null on the native branch
        *(F.lit(None).cast(t).alias(c) for c, t in rd_cols.items()),
    )

    extracted = py_out.unionByName(nat_out)

    extracted = extracted.withColumn(
        "n_extracted_chars", F.length("extracted_text").cast("long")
    )
    if drop_empty:
        # empty conversions are dropped (reference paper_text_table.py:153-155);
        # errored rows extract to "" and drop with them — lineage accounts for
        # them in the drop_empty=False (checkpoint) path
        extracted = extracted.where(F.length("extracted_text") > 0).drop("extract_error")
    return extracted


def ordered_output(extracted: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Range-partition + sort for stable (conv_id, turn_idx) export order.

    A global orderBy would funnel through one post-shuffle sort of everything;
    repartitionByRange + sortWithinPartitions gives globally ordered output
    files with the sort parallelized per range — the scalable form.
    """
    n = num_partitions or extracted.sparkSession.conf.get("spark.sql.shuffle.partitions")
    return extracted.repartitionByRange(int(n), "conv_id", "turn_idx").sortWithinPartitions(
        "conv_id", "turn_idx"
    )
