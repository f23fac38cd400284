"""Tests for E5-E10: windowing, field extraction, enrichment, encoding."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from article_extraction_spark.extraction import (
    char_windows_col,
    complete_informations,
    encode_texts_deduped,
    extract_fields,
    iter_token_windows,
)
from article_extraction_spark.extraction.windows import explode_windows


def test_iter_token_windows_reference_semantics():
    toks = list(range(10))
    # window >= len → whole
    assert list(iter_token_windows(toks, 10, 3)) == [toks]
    assert list(iter_token_windows(toks, 0, 3)) == [toks]
    # stride<=0 → stride=window (no overlap), last window short
    assert list(iter_token_windows(toks, 4, 0)) == [[0, 1, 2, 3], [4, 5, 6, 7], [8, 9]]
    # overlapping stride; stop once a window reaches the end
    assert list(iter_token_windows(toks, 4, 2)) == [
        [0, 1, 2, 3], [2, 3, 4, 5], [4, 5, 6, 7], [6, 7, 8, 9],
    ]
    assert list(iter_token_windows([], 4, 2)) == [[]]


def test_char_windows_native_matches_reference(spark):
    # reference qa_squad.py:27-37 semantics
    def ref_windows(text, window, stride):
        if window <= 0 or stride <= 0:
            return [text]
        out, i, n = [], 0, len(text)
        while i < n:
            out.append(text[i : i + window])
            if i + window >= n:
                break
            i += stride
        return out or [""]

    texts = ["abcdefghij", "abc", "", "x" * 25]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    for window, stride in [(4, 2), (4, 4), (10, 3), (0, 0), (5, 1)]:
        got = [
            r["w"]
            for r in df.select(char_windows_col(F.col("t"), window, stride).alias("w")).collect()
        ]
        for text, wins in zip(texts, got):
            expected = ref_windows(text, window, stride)
            if text == "" and window > 0:
                expected = [""]  # sequence(0,0) → one empty window
            assert list(wins) == expected, (text, window, stride, wins, expected)


def test_explode_windows(spark):
    df = spark.createDataFrame([(1, "abcdefgh")], "id int, text string")
    rows = explode_windows(df, "text", 4, 2).collect()
    assert [(r["window_idx"], r["window_text"]) for r in rows] == [
        (0, "abcd"), (1, "cdef"), (2, "efgh"),
    ]


def test_extract_fields_regex(spark):
    df = spark.createDataFrame(
        [
            (1, "We trained model: GPT-X with parameters: 1.5b on gpus: 2,048 in year: 2023. hardware: NVIDIA A100; more."),
            (2, "nothing to see"),
            (3, None),
        ],
        "id int, text string",
    )
    got = {r["id"]: r["extracted"] for r in extract_fields(df, "text").collect()}
    assert got[1]["model"] == "GPT-X"
    assert got[1]["parameters"] == 1_500_000_000
    assert got[1]["h_number"] == 2048
    assert got[1]["year"] == 2023
    assert got[1]["hardware_text"] == "NVIDIA A100"
    assert all(v is None for v in got[2].asDict().values())
    assert all(v is None for v in got[3].asDict().values())


def test_extract_fields_windowed_first_wins(spark):
    # field appears only in the second window; first-non-empty wins overall
    text = " ".join(["filler"] * 30) + " year: 1999 " + " ".join(["pad"] * 30) + " year: 2024"
    df = spark.createDataFrame([(1, text)], "id int, text string")
    got = extract_fields(df, "text", window_tokens=20, stride_tokens=20).first()["extracted"]
    assert got["year"] == 1999


def test_complete_informations_physics(spark):
    info = spark.createDataFrame(
        [
            # hours derived from compute; energy from h_power; co2 from factor
            (1, None, 1e21, 300.0, 0.4, 100, 10),
            # hours present → untouched; no country → co2 null
            (2, 5.0, None, None, 0.4, 10, None),
        ],
        "id_paper int, training_time_hours double, training_compute double, "
        "h_compute double, h_power double, h_number int, id_country int",
    )
    factors = spark.createDataFrame([(10, 415.0)], "id_country int, gco2_kwh double")
    got = {r["id_paper"]: r for r in complete_informations(info, factors).collect()}
    hours = 1e21 / (100 * 300.0 * 1e12 * 0.30) / 3600.0
    assert math.isclose(got[1]["training_time_hours"], hours)
    kwh = 0.4 * 100 * hours * 1.20
    assert math.isclose(got[1]["energy_kwh"], kwh)
    assert math.isclose(got[1]["co2eq"], kwh * 415.0 / 1000.0)
    assert got[2]["training_time_hours"] == 5.0
    assert math.isclose(got[2]["energy_kwh"], 0.4 * 10 * 5.0 * 1.20)
    assert got[2]["co2eq"] is None


def test_encode_dedupe(spark):
    df = spark.createDataFrame([(1, "same"), (2, "same"), (3, "diff")], "id int, t string")
    got = {r["id"]: r["embedding"] for r in encode_texts_deduped(df, "t").collect()}
    assert list(got[1]) == list(got[2])
    assert list(got[1]) != list(got[3])
    norm = sum(v * v for v in got[1]) ** 0.5
    assert math.isclose(norm, 1.0, rel_tol=1e-5)
