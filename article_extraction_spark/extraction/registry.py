"""E9: field fan-out with the deterministic regex extractor.

The reference's extraction contract is ``extract_fn(text, field) ->
Optional[str|number]`` (models/llm.py:188-260, models/qa_squad.py:164-241,
curried in run.py:16-24). Spark surface: ``regex_extractor`` behind ONE
struct-returning pandas UDF — one Arrow pass extracts every field (E9
"single inference pass per window"), with first-non-empty-window-wins
semantics (llm.py:247-259) inside the batch kernel.
"""

from __future__ import annotations

import re
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .windows import iter_token_windows

FIELDS = ("model", "parameters", "h_number", "year", "hardware_text")
NUMERIC_TARGETS = frozenset({"parameters", "h_number", "year"})  # reference :211


_PATTERNS = {
    "model": re.compile(r"(?i)\bmodel[:=]\s*([A-Za-z0-9._/-]+)"),
    "parameters": re.compile(r"(?i)\bparameters[:=]\s*([0-9][0-9,.]*\s*[kmbt]?)"),
    "h_number": re.compile(r"(?i)\bgpus?[:=]\s*([0-9][0-9,]*)"),
    "year": re.compile(r"(?i)\byear[:=]\s*([0-9]{4})"),
    "hardware_text": re.compile(r"(?i)\bhardware[:=]\s*([A-Za-z0-9 +&/-]+?)(?:[;.\n]|$)"),
}


def regex_extractor(text: str, field: str):
    """A real deterministic extractor: pulls key:value facts out of free text
    (the no-GPU stand-in for the LLM extractor; same contract)."""
    pat = _PATTERNS.get(field)
    if pat is None:
        return None
    m = pat.search(text or "")
    return m.group(1).strip() if m else None


def _coerce(raw, field: str):
    """Store-value coercion (reference paper_information_table.py:228-243):
    None/empty → NULL; numeric targets through _parse_numeric → int."""
    if raw is None:
        return None
    if isinstance(raw, str) and raw.strip() == "":
        return None
    if field in NUMERIC_TARGETS:
        return _parse_numeric_py(raw)
    return str(raw)


def _parse_numeric_py(value) -> int | None:
    """Python twin of functions.casts.parse_numeric_col (F7, reference
    paper_information_table.py:651-692), to int."""
    if value is None:
        return None
    if isinstance(value, (int, float)):
        return int(value)
    text = str(value).strip().lower().replace(",", "").replace(" ", "")
    if not text:
        return None
    mult = {"k": 1e3, "m": 1e6, "b": 1e9, "t": 1e12}.get(text[-1:])
    if mult is not None:
        try:
            return int(float(text[:-1]) * mult)
        except ValueError:
            return None
    try:
        return int(float(text))
    except ValueError:
        return None


EXTRACTED_FIELDS_TYPE = T.StructType(
    [
        T.StructField("model", T.StringType(), True),
        T.StructField("parameters", T.LongType(), True),
        T.StructField("h_number", T.LongType(), True),
        T.StructField("year", T.LongType(), True),
        T.StructField("hardware_text", T.StringType(), True),
    ]
)


def extract_fields(
    df: DataFrame,
    text_col: str,
    window_tokens: int = 0,
    stride_tokens: int = 0,
    out_col: str = "extracted",
) -> DataFrame:
    """E9: one Arrow pass extracting every field per row.

    Windowing semantics per reference llm.py:229-259: iterate token windows,
    FIRST non-empty answer per field wins (early return). window_tokens<=0 ⇒
    whole text in one window.
    """
    @F.pandas_udf(EXTRACTED_FIELDS_TYPE)
    def _extract(texts: pd.Series) -> pd.DataFrame:
        rows = []
        for text in texts:
            text = text or ""
            tokens = text.split() if window_tokens > 0 else None
            values: dict[str, object] = {}
            for field in FIELDS:
                raw = None
                if tokens is None:
                    raw = regex_extractor(text, field)
                else:
                    for win in iter_token_windows(tokens, window_tokens, stride_tokens):
                        raw = regex_extractor(" ".join(win), field)
                        if raw is not None and str(raw).strip() != "":
                            break  # first non-empty window wins (llm.py:247-259)
                values[field] = _coerce(raw, field)
            rows.append(values)
        return pd.DataFrame(rows, columns=list(FIELDS))

    return df.withColumn(out_col, _extract(F.col(text_col)))
