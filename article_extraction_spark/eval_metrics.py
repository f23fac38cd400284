"""Golden-comparison evaluation job (reference results/020925/scores.py —
§3.3): per-cell prediction vs truth with char metrics + embedding cosine
distance, cumulative means, per-(model,category) summaries with keyed upsert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .extraction.encode import encode_texts_deduped
from .functions.similarity import cosine_distance_col, jaro_winkler_udf, levenshtein_normalized_col
from .functions.textnorm import normalise_cell_col
from .sinks import upsert_by_key


def per_turn_equality(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """Per-turn byte-equality vs golden outputs under (conv_id, turn_idx)
    keys — the BASELINE.json correctness metric. Full outer join so both
    missing and extra turns count as mismatches."""
    joined = extracted.select(
        "conv_id", "turn_idx", F.col("extracted_text")
    ).join(
        golden.select("conv_id", "turn_idx", "expected_text"),
        ["conv_id", "turn_idx"],
        "full_outer",
    )
    return joined.withColumn(
        "equal",
        F.coalesce(F.col("extracted_text") == F.col("expected_text"), F.lit(False)),
    )


def char_metrics(df: DataFrame, pred: str, truth: str) -> DataFrame:
    """Reference scores.py:190-294, 463-515: normalise both cells, then
    levenshtein (+normalized) and jaro-winkler similarity."""
    p = normalise_cell_col(F.col(pred))
    t = normalise_cell_col(F.col(truth))
    return (
        df.withColumn("_p", p)
        .withColumn("_t", t)
        .withColumn("levenshtein", F.levenshtein("_p", "_t"))
        .withColumn("levenshtein_norm", levenshtein_normalized_col(F.col("_p"), F.col("_t")))
        .withColumn("jaro_winkler", jaro_winkler_udf("_p", "_t"))
        .drop("_p", "_t")
    )


def semantic_metrics(df: DataFrame, pred: str, truth: str, encoder=None) -> DataFrame:
    """Embedding cosine distance (reference scores.py:159-167) with
    dedupe-before-encode on BOTH sides (the memo cache as a join, E10)."""
    df = encode_texts_deduped(df, pred, encoder, out_col="_pe")
    df = encode_texts_deduped(df, truth, encoder, out_col="_te")
    return df.withColumn(
        "cosine_distance", cosine_distance_col(F.col("_pe"), F.col("_te"))
    ).drop("_pe", "_te")


def evaluate(df: DataFrame, pred: str = "predicted", truth: str = "true") -> DataFrame:
    """Full per-row metric computation (validate → normalise → metrics)."""
    scored = char_metrics(df, pred, truth)
    scored = semantic_metrics(scored, pred, truth)
    return scored.withColumn(
        "exact", (normalise_cell_col(F.col(pred)) == normalise_cell_col(F.col(truth))).cast("int")
    )


def cumulative_mean_by(df: DataFrame, order: str, value: str, group: list[str]) -> DataFrame:
    """Expanding mean per (model, category) in row order (reference
    scores.py:454, 511-512)."""
    w = Window.partitionBy(*group).orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(f"cum_{value}", F.avg(value).over(w))


def summarize(df: DataFrame, group: list[str]) -> DataFrame:
    """Per-(model,category) summary (reference scores.py:565-606)."""
    return df.groupBy(*group).agg(
        F.count("*").alias("n"),
        F.avg("exact").alias("exact_rate"),
        F.avg("levenshtein_norm").alias("mean_lev_norm"),
        F.avg("jaro_winkler").alias("mean_jaro_winkler"),
        F.avg("cosine_distance").alias("mean_cosine_distance"),
    )


def write_summary_upsert(
    spark: SparkSession, summary: DataFrame, path: str, keys: list[str] | None = None
) -> None:
    """Keyed summary upsert (reference scores.py:609-668 — MERGE analog)."""
    upsert_by_key(spark, summary, path, keys or ["model", "category"])
