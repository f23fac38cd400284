"""Structured enrichment as Spark plans (reference
paper_information_table.py: load_from_epoch :100-148 and
complete_informations :275-354).

Reference shape: row-at-a-time, per-cell commits. Engine shape: the fuzzy
country and hardware joins, then physics completion as guarded column
arithmetic — all lazily composed, written once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.physics import co2eq_col, energy_kwh_col, training_time_hours_col
from ..operators.joins import fuzzy_match_country, fuzzy_match_hardware


def informations_from_epoch(
    epoch: DataFrame,
    country_dim: DataFrame,
    hardware_dim: DataFrame,
) -> DataFrame:
    """Structured enrichment from the epoch fact table (reference
    load_from_epoch, paper_information_table.py:100-148): clean/cast the 11
    source columns, then the two fuzzy joins — country argmin (J3) and
    hardware argmax with NO threshold (unlike extraction-time matching,
    the epoch path accepts the best match unconditionally, :118-137)."""
    from ..functions.casts import to_float_comma_col, to_int_comma_col, to_year_col

    base = epoch.select(
        F.col("id_paper"),
        F.nullif(F.trim(F.col("model").cast("string")), F.lit("")).alias("model"),
        F.nullif(F.trim(F.col("abstract").cast("string")), F.lit("")).alias("abstract"),
        F.nullif(F.trim(F.col("approach").cast("string")), F.lit("")).alias("architecture"),
        to_int_comma_col(F.col("parameters")).alias("parameters"),
        to_float_comma_col(F.col("training_compute")).alias("training_compute"),
        to_float_comma_col(F.col("training_power_draw_w")).alias("power_draw"),
        to_int_comma_col(F.col("hardware_quantity")).cast("int").alias("h_number"),
        to_year_col(F.col("publication_date")).alias("year"),
        F.col("country_of_organization").cast("string").alias("_country_text"),
        F.col("training_hardware").cast("string").alias("_hardware_text"),
    )
    with_country = fuzzy_match_country(base, "_country_text", country_dim)
    with_hw = fuzzy_match_hardware(
        with_country, "_hardware_text", hardware_dim, accept_below_threshold=True
    )
    return with_hw.drop("_country_text", "_hardware_text", "hw_similarity")


def complete_informations(
    info: DataFrame,
    country_factors: DataFrame | None = None,
) -> DataFrame:
    """Physics completion (reference complete_informations :305-349):

      * training_time_hours derived ONLY when absent and all inputs positive
      * energy: power_draw (W, whole system) wins over h_power (kW/device)×n
      * co2eq derived ONLY when absent and the country factor exists (≥0)

    ``country_factors``: (id_country, gco2_kwh) — broadcast dimension lookup
    (reference _load_country_emission_factors :604-614).
    """
    derived_hours = training_time_hours_col(
        F.col("training_compute"), F.col("h_compute"), F.col("h_number")
    )
    out = info.withColumn(
        "training_time_hours",
        F.coalesce(F.col("training_time_hours"), derived_hours),
    )
    power_draw = F.col("power_draw") if "power_draw" in info.columns else F.lit(None).cast("double")
    out = out.withColumn(
        "energy_kwh",
        energy_kwh_col(F.col("training_time_hours"), power_draw, F.col("h_power"), F.col("h_number")),
    )
    if country_factors is not None and "id_country" in out.columns:
        out = out.join(F.broadcast(country_factors), "id_country", "left")
        co2 = co2eq_col(F.col("energy_kwh"), F.col("gco2_kwh"))
        existing = F.col("co2eq") if "co2eq" in info.columns else F.lit(None).cast("double")
        out = out.withColumn("co2eq", F.coalesce(existing, co2)).drop("gco2_kwh")
    return out
