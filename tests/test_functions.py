"""Operator tests for the scalar-function library (F1-F17) vs the reference
semantics (SURVEY.md §2.7)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from article_extraction_spark.functions import (
    clean_value_col,
    co2eq_col,
    cosine_distance_col,
    energy_kwh_col,
    first_url_col,
    jaro_winkler,
    jaro_winkler_udf,
    levenshtein_normalized_col,
    normalise_cell_col,
    normalize_alnum_col,
    parse_numeric_col,
    solve_url_col,
    split_tokens,
    split_tokens_col,
    to_boolean_col,
    to_float_comma_col,
    to_year_col,
    training_time_hours_col,
    watts_to_kilowatts_col,
)


def _vals(spark, col, rows):
    df = spark.createDataFrame([(r,) for r in rows], "v string")
    return [r["o"] for r in df.select(col(F.col("v")).alias("o")).collect()]


def test_to_boolean(spark):
    got = _vals(spark, to_boolean_col, ["true", " YES ", "t", "0", "No", "f", "maybe", None, "2"])
    assert got == [True, True, True, False, False, False, None, None, None]


def test_numeric_coercions(spark):
    assert _vals(spark, to_float_comma_col, ["1,234", " 2,000.5 ", "x", None]) == [1234.0, 2000.5, None, None]
    assert _vals(spark, clean_value_col, ["  x ", "   ", "", None]) == ["x", None, None, None]


def test_parse_numeric_suffixes(spark):
    got = _vals(spark, parse_numeric_col, ["1.5k", "2M", "3b", "4T", "1,234", "12 000", "7", "x", "task", None])
    assert got == [1500.0, 2e6, 3e9, 4e12, 1234.0, 12000.0, 7.0, None, None, None]


def test_to_year(spark):
    got = _vals(spark, to_year_col, ["2021-05-04", "2021/05/04", "05/04/2021", "2021", "junk", None])
    assert got == [2021, 2021, 2021, 2021, None, None]


def test_normalize_and_cell(spark):
    assert _vals(spark, normalize_alnum_col, ["  NVIDIA A100-SXM4 (80GB)! ", "a   b"]) == [
        "nvidia a100 sxm4 80gb",
        "a b",
    ]
    assert _vals(spark, normalise_cell_col, ["  a \n b ", "NaN", "none", "", None, "x"]) == [
        "a b", "", "", "", "", "x",
    ]


def test_split_tokens_col_matches_python(spark):
    cases = ["a, b; c/d", "A,a, b", " , ,x", "x and y + z", None]
    df = spark.createDataFrame([(c,) for c in cases], "v string")
    plain = [r["o"] for r in df.select(split_tokens_col(F.col("v")).alias("o")).collect()]
    extra = [
        r["o"]
        for r in df.select(split_tokens_col(F.col("v"), extra_separators=True).alias("o")).collect()
    ]
    for c, got_plain, got_extra in zip(cases, plain, extra):
        assert (got_plain or []) == split_tokens(c)
        assert (got_extra or []) == split_tokens(c, extra_separators=True)
    assert plain[0] == ["a", "b", "c", "d"]
    assert plain[1] == ["A", "b"]  # case-insensitive dedupe keeps first
    assert extra[3] == ["x", "y", "z"]


# Jaro-Winkler ground truths (textbook examples, Winkler 1990)
JW_CASES = [
    ("MARTHA", "MARHTA", 0.9611111111),
    ("DIXON", "DICKSONX", 0.8133333333),
    ("JELLYFISH", "SMELLYFISH", 0.8962962963),
    ("abc", "abc", 1.0),
    ("", "abc", 0.0),
    ("abc", "", 0.0),
    ("a", "b", 0.0),
]


@pytest.mark.parametrize("a,b,expected", JW_CASES)
def test_jaro_winkler_python(a, b, expected):
    assert math.isclose(jaro_winkler(a, b), expected, abs_tol=1e-9)


def test_jaro_winkler_udf(spark):
    df = spark.createDataFrame([(a, b) for a, b, _ in JW_CASES], "a string, b string")
    got = [r["s"] for r in df.select(jaro_winkler_udf("a", "b").alias("s")).collect()]
    for (_, _, expected), s in zip(JW_CASES, got):
        assert math.isclose(s, expected, abs_tol=1e-9)


def test_jw_vectorized_kernel_equals_scalar_twin():
    """Property test: the numpy batch kernel is bit-equal to the scalar
    textbook implementation on random pairs incl. unicode/empty/equal."""
    import math
    import random

    from article_extraction_spark.functions.similarity import _jw_batch_numpy

    rng = random.Random(123)
    alphabet = "abcdefgh 0123-éß日"
    pairs = []
    for _ in range(1500):
        a = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        if rng.random() < 0.25:
            b = a  # exact-equal path
        elif rng.random() < 0.5:
            b = a[: rng.randint(0, len(a))] + "".join(
                rng.choice(alphabet) for _ in range(rng.randint(0, 8))
            )
        else:
            b = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 24)))
        pairs.append((a, b))
    pairs += [("", ""), ("", "x"), ("x", ""), ("a", "a"), ("ab", "ba"),
              ("MARTHA", "MARHTA"), ("x" * 120, "x" * 119 + "y")]
    got = _jw_batch_numpy([p[0] for p in pairs], [p[1] for p in pairs])
    for (a, b), g in zip(pairs, got):
        assert math.isclose(g, jaro_winkler(a, b), abs_tol=1e-12), (a, b, g)


def test_levenshtein_normalized(spark):
    df = spark.createDataFrame([("kitten", "sitting"), ("", ""), ("ab", "ab")], "a string, b string")
    got = [r["d"] for r in df.select(levenshtein_normalized_col(F.col("a"), F.col("b")).alias("d")).collect()]
    assert math.isclose(got[0], 3 / 7)
    assert got[1] == 0.0 and got[2] == 0.0


def test_cosine_distance(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    got = [r["d"] for r in df.select(cosine_distance_col(F.col("a"), F.col("b")).alias("d")).collect()]
    assert math.isclose(got[0], 0.0, abs_tol=1e-12)
    assert math.isclose(got[1], 1.0)
    assert math.isclose(got[2], 1 - 1 / math.sqrt(2))


def test_urls(spark):
    rows = [
        "see https://arxiv.org/abs/2101.12345v2 for details",
        "https://example.com/paper.pdf?dl=1",
        "https://onlinelibrary.wiley.com/doi/full/10.1/x.pdf",
        "no url here",
        "text then https://a.io/x). end",
    ]
    got = _vals(spark, solve_url_col, rows)
    assert got[0] == "https://arxiv.org/pdf/2101.12345v2.pdf"
    assert got[1] == "https://example.com/paper.pdf?dl=1"
    assert got[2] == "https://onlinelibrary.wiley.com/doi/pdf/10.1/x.pdf"
    assert got[3] is None
    assert got[4] == "https://a.io/x"
    assert _vals(spark, first_url_col, ["x https://a.b/c), y"]) == ["https://a.b/c"]


def test_physics(spark):
    df = spark.createDataFrame(
        [(1e21, 300.0, 100, 400000.0, 0.3, 415.0)],
        "tc double, hc double, hn int, pd double, hp double, g double",
    )
    out = (
        df.withColumn("hours", training_time_hours_col(F.col("tc"), F.col("hc"), F.col("hn")))
        .withColumn("kw", watts_to_kilowatts_col(F.col("pd")))
        .withColumn("kwh", energy_kwh_col(F.col("hours"), F.col("pd"), F.col("hp"), F.col("hn")))
        .withColumn("co2", co2eq_col(F.col("kwh"), F.col("g")))
        .first()
    )
    expect_hours = 1e21 / (100 * 300.0 * 1e12 * 0.30) / 3600.0
    assert math.isclose(out["hours"], expect_hours)
    assert math.isclose(out["kw"], 400.0)
    assert math.isclose(out["kwh"], (400000.0 / 1000.0) * expect_hours * 1.20)
    assert math.isclose(out["co2"], out["kwh"] * 415.0 / 1000.0)


def test_physics_guards(spark):
    df = spark.createDataFrame([(None, 300.0, 100), (1e21, 0.0, 100)], "tc double, hc double, hn int")
    got = df.select(training_time_hours_col(F.col("tc"), F.col("hc"), F.col("hn")).alias("h")).collect()
    assert [r["h"] for r in got] == [None, None]


def test_canonical_url(spark):
    from article_extraction_spark.functions.urls import canonical_url_col

    cases = [
        ("HTTP://Example.COM:80/Path/?utm_source=x&q=1#frag", "http://example.com/Path?q=1"),
        ("https://example.com:443/a/", "https://example.com/a"),
        ("https://example.com/a?utm_campaign=c", "https://example.com/a"),
        ("https://example.com/a?UTM_Source=x", "https://example.com/a"),  # case-insens
        ("https://example.com/a?utm_source_platform=p&q=1", "https://example.com/a?q=1"),
        ("https://example.com/a?q=1&fbclid=zzz&r=2", "https://example.com/a?q=1&r=2"),
        ("https://example.com/", "https://example.com/"),  # root slash kept
        ("ftp://example.com/x", None),
        ("", None),
        (None, None),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i long, u string")
    got = {r["i"]: r["c"] for r in df.select("i", canonical_url_col(F.col("u")).alias("c")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, cases[i], got[i])


def test_canonical_url_idempotent(spark):
    """Property (hypothesis): canonicalization is idempotent — applying it
    to its own output is a fixed point. A second pass that changes the
    value means two 'canonical' forms exist for one URL."""
    from hypothesis import given, settings, strategies as st

    from article_extraction_spark.functions.urls import canonical_url_col

    host = st.from_regex(r"[a-zA-Z][a-zA-Z0-9.-]{0,15}\.(com|org|io)", fullmatch=True)
    path = st.from_regex(r"(/[a-zA-Z0-9._~-]{0,8}){0,3}/?", fullmatch=True)
    params = st.lists(
        st.sampled_from(["q=1", "utm_source=x", "fbclid=y", "r=2", "gclid=z", "a=b"]),
        max_size=4,
    )
    scheme = st.sampled_from(["http://", "https://", "HTTP://", "HTTPS://"])
    port = st.sampled_from(["", ":80", ":443", ":8080"])
    frag = st.sampled_from(["", "#top", "#a/b"])

    @st.composite
    def urls(draw):
        q = "&".join(draw(params))
        return (
            draw(scheme) + draw(host) + draw(port) + draw(path)
            + ("?" + q if q else "") + draw(frag)
        )

    collected: list[str] = []

    @settings(max_examples=200, deadline=None)
    @given(urls())
    def _collect(u):
        collected.append(u)

    _collect()
    df = spark.createDataFrame([(i, u) for i, u in enumerate(collected)], "i long, u string")
    once = df.select("i", canonical_url_col(F.col("u")).alias("c1"))
    twice = once.select("i", "c1", canonical_url_col(F.col("c1")).alias("c2"))
    bad = twice.where(
        F.col("c1").isNotNull() & (F.col("c1") != F.col("c2"))
    ).collect()
    assert not bad, bad[:5]


def test_unicode_normalize_forms(spark):
    """NFC recomposes combining sequences; NFKC additionally folds
    compatibility characters — pinned against known Unicode pairs; NULLs
    pass through; bad form rejected."""
    import pytest as _pytest

    from article_extraction_spark.functions.textnorm import unicode_normalize_udf

    rows = [
        (0, "café"),          # e + combining acute → é
        (1, "ﬁle"),            # ﬁ ligature
        (2, "ＡBC ㎡"),     # fullwidth A, ㎡
        (3, None),
        (4, "already plain"),
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    nfc = {r["i"]: r["o"] for r in df.select("i", unicode_normalize_udf("NFC")(F.col("t")).alias("o")).collect()}
    assert nfc[0] == "café" and len(nfc[0]) == 4
    assert nfc[1] == "ﬁle"  # NFC keeps compatibility chars
    assert nfc[3] is None and nfc[4] == "already plain"
    nfkc = {r["i"]: r["o"] for r in df.select("i", unicode_normalize_udf("NFKC")(F.col("t")).alias("o")).collect()}
    assert nfkc[1] == "file"
    assert nfkc[2] == "ABC m2"
    with _pytest.raises(ValueError, match="normal form"):
        unicode_normalize_udf("NFX")
