"""Declarative schemas (the engine never infers schema for core tables).

Mirrors the reference's fixed, nullable-by-default SQLAlchemy declarations
(reference tables/epoch_table.py:50-113, tables/paper_text_table.py:17-25)
re-expressed as explicit StructTypes; the primary input is the transcripts
shape from BASELINE.json ``input_hint``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Primary input: Iceberg-style table of multi-turn transcripts.
TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# Span offsets of each emitted paragraph/segment in the source payload.
SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
        ]
    )
)

# Output of the convert_to_txt stage (reference paper_text semantics +
# span offsets + payload-kind diagnostics).
EXTRACTED_TURNS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("doc_kind", T.StringType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("spans", SPAN_TYPE, True),
        T.StructField("n_source_bytes", T.LongType(), True),
        T.StructField("n_extracted_chars", T.LongType(), True),
    ]
)

# Per-partition checkpoint/lineage rows (north rule: partition id, bucket
# layout, input snapshot, rows processed, extraction metrics).
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.LongType(), False),
        T.StructField("n_buckets", T.LongType(), False),
        T.StructField("input_snapshot", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
        T.StructField("rows_in", T.LongType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("rows_empty", T.LongType(), False),
        T.StructField("rows_failed", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("chars_out", T.LongType(), False),
        T.StructField("n_html", T.LongType(), False),
        T.StructField("n_pdf", T.LongType(), False),
        T.StructField("n_txt", T.LongType(), False),
        T.StructField("n_json", T.LongType(), False),
    ]
)

# Dimension tables for the structured-enrichment library
# (reference tables/hardware_table.py:21-31, tables/country_table.py:20-28).
HARDWARE_SCHEMA = T.StructType(
    [
        T.StructField("id_hardware", T.IntegerType(), False),
        T.StructField("hardware", T.StringType(), False),
        T.StructField("compute", T.DoubleType(), True),
        T.StructField("power", T.DoubleType(), True),
    ]
)

COUNTRY_SCHEMA = T.StructType(
    [
        T.StructField("id_country", T.IntegerType(), False),
        T.StructField("country", T.StringType(), False),
        T.StructField("gco2_kwh", T.DoubleType(), False),
    ]
)

# paper_information variant schema (reference paper_information_table.py:16-43).
PAPER_INFORMATION_SCHEMA = T.StructType(
    [
        T.StructField("id_paper", T.IntegerType(), False),
        T.StructField("model", T.StringType(), True),
        T.StructField("hardware_text", T.StringType(), True),
        T.StructField("abstract", T.StringType(), True),
        T.StructField("architecture", T.StringType(), True),
        T.StructField("parameters", T.LongType(), True),
        T.StructField("id_country", T.IntegerType(), True),
        T.StructField("id_hardware", T.IntegerType(), True),
        T.StructField("h_compute", T.DoubleType(), True),
        T.StructField("h_power", T.DoubleType(), True),
        T.StructField("h_number", T.IntegerType(), True),
        T.StructField("training_time_id_hardware", T.IntegerType(), True),
        T.StructField("year", T.IntegerType(), True),
        T.StructField("training_compute", T.DoubleType(), True),
        T.StructField("training_time_hours", T.DoubleType(), True),
        T.StructField("power_draw", T.DoubleType(), True),
        T.StructField("co2eq", T.DoubleType(), True),
    ]
)
