"""Coerce-to-NULL casts (F1-F8) as native column expressions.

The reference's schema-on-write type-coercion layer (reference
tables/other/convert.py:10-64, tables/paper_information_table.py:371-412,
651-719) — every parse failure yields NULL, never an error. All of these
stay JVM-side inside whole-stage codegen; no Python boundary.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TRUTHY = ["true", "1", "yes", "y", "t"]
_FALSY = ["false", "0", "no", "n", "f"]


def to_date_col(c: Column) -> Column:
    """F1: parse-else-NULL date (reference convert.py:10-16). ANSI-safe."""
    return c.cast("string").try_cast("date")


def to_timestamp_col(c: Column) -> Column:
    """F1: parse-else-NULL UTC timestamp (reference convert.py:19-25)."""
    return F.try_to_timestamp(c.cast("string"))


def to_boolean_col(c: Column) -> Column:
    """F2: truthy/falsy word map else NULL (reference convert.py:28-40)."""
    lowered = F.lower(F.trim(c.cast("string")))
    return (
        F.when(lowered.isin(_TRUTHY), F.lit(True))
        .when(lowered.isin(_FALSY), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def clean_value_col(c: Column) -> Column:
    """F4: strip; empty→NULL (reference paper_information_table.py:371-379)."""
    return F.nullif(F.trim(c.cast("string")), F.lit(""))


def to_float_comma_col(c: Column) -> Column:
    """F5: '1,234' → 1234.0; else-NULL (reference :382-398)."""
    return F.regexp_replace(F.trim(c.cast("string")), ",", "").try_cast("double")


def to_int_comma_col(c: Column) -> Column:
    """F5: comma-removing int coerce (reference :401-403)."""
    return to_float_comma_col(c).cast("long")


def to_year_col(c: Column) -> Column:
    """F6: any date-ish → year int (reference :406-412)."""
    s = F.trim(c.cast("string"))
    parsed = F.coalesce(
        s.try_cast("date"),
        F.try_to_timestamp(s, F.lit("yyyy/MM/dd")).cast("date"),
        F.try_to_timestamp(s, F.lit("MM/dd/yyyy")).cast("date"),
        F.try_to_timestamp(s, F.lit("yyyy")).cast("date"),  # bare year
    )
    return F.year(parsed)


def parse_numeric_col(c: Column) -> Column:
    """F7: strip commas/spaces; short suffix k/m/b/t ×10³..10¹² (reference
    paper_information_table.py:651-692 — word multipliers are declared there
    but never applied to strings, so this matches the applied behavior)."""
    cleaned = F.regexp_replace(
        F.regexp_replace(F.lower(F.trim(c.cast("string"))), ",", ""), " ", ""
    )
    suffix = F.substring(cleaned, -1, 1)
    head = F.when(
        F.length(cleaned) > 1,
        F.substring(cleaned, 1, F.length(cleaned) - 1).try_cast("double"),
    )
    mult = (
        F.when(suffix == "k", F.lit(1e3))
        .when(suffix == "m", F.lit(1e6))
        .when(suffix == "b", F.lit(1e9))
        .when(suffix == "t", F.lit(1e12))
    )
    return F.when(
        mult.isNotNull() & head.isNotNull(), head * mult
    ).otherwise(cleaned.try_cast("double"))
