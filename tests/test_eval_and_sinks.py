"""Tests for the evaluation job (§3.3 analog), sinks, and streaming."""

from __future__ import annotations

import math

from article_extraction_spark.eval_metrics import (
    cumulative_mean_by,
    evaluate,
    per_turn_equality,
    summarize,
    write_summary_upsert,
)
from article_extraction_spark.sinks import append, create_or_replace, upsert_by_key, variant_table_path


def test_equality_rate_full_outer(spark):
    ext = spark.createDataFrame(
        [("c", 0, "a"), ("c", 1, "b"), ("c", 3, "extra")],
        "conv_id string, turn_idx int, extracted_text string",
    )
    gold = spark.createDataFrame(
        [("c", 0, "a"), ("c", 1, "B"), ("c", 2, "missing")],
        "conv_id string, turn_idx int, expected_text string",
    )
    # 4 joined keys: 1 equal, 1 diff, 1 missing, 1 extra
    equal = [r["equal"] for r in per_turn_equality(ext, gold).collect()]
    assert len(equal) == 4 and sum(equal) == 1


def test_char_metrics_and_summary(spark):
    df = spark.createDataFrame(
        [("m1", "cat", "kitten", "sitting"), ("m1", "cat", "same", "same"), ("m1", "cat", "NaN", "")],
        "model string, category string, predicted string, true string",
    )
    scored = evaluate(df)
    rows = {r["predicted"]: r for r in scored.collect()}
    assert rows["kitten"]["levenshtein"] == 3
    assert math.isclose(rows["kitten"]["levenshtein_norm"], 3 / 7)
    assert rows["same"]["exact"] == 1 and rows["same"]["jaro_winkler"] == 1.0
    assert math.isclose(rows["same"]["cosine_distance"], 0.0, abs_tol=1e-6)
    assert rows["NaN"]["exact"] == 1  # both normalise to "" (scores.py:175-187)

    summary = summarize(scored, ["model", "category"]).first()
    assert summary["n"] == 3 and math.isclose(summary["exact_rate"], 2 / 3)


def test_cumulative_mean_by(spark):
    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 3.0), ("b", 1, 10.0)], "g string, i int, v double"
    )
    got = {(r["g"], r["i"]): r["cum_v"] for r in cumulative_mean_by(df, "i", "v", ["g"]).collect()}
    assert got[("a", 1)] == 1.0 and got[("a", 2)] == 2.0 and got[("b", 1)] == 10.0


def test_sinks_upsert(spark, tmp_path):
    p = str(tmp_path / "t")
    create_or_replace(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), p)
    append(spark.createDataFrame([(3, "c")], "k int, v string"), p)
    upsert_by_key(spark, spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string"), p, ["k"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "d"}
    assert variant_table_path("/x", "llm") == "/x/paper_information_llm"


def test_sinks_upsert_on_uri(spark, tmp_path):
    """A ``file://`` destination is an existing table to merge into: the
    keys src does not touch survive, and the staging copy is deleted."""
    p = (tmp_path / "t").as_uri()
    upsert_by_key(spark, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), p, ["k"])
    upsert_by_key(spark, spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"), p, ["k"])
    got = {r["k"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    assert sorted(x.name for x in tmp_path.iterdir()) == ["t"]


def test_summary_upsert(spark, tmp_path):
    p = str(tmp_path / "summary")
    s1 = spark.createDataFrame([("m1", "c1", 5, 0.5)], "model string, category string, n long, exact_rate double")
    s2 = spark.createDataFrame([("m1", "c1", 9, 0.9), ("m2", "c1", 1, 1.0)], "model string, category string, n long, exact_rate double")
    write_summary_upsert(spark, s1, p)
    write_summary_upsert(spark, s2, p)
    got = {(r["model"], r["category"]): r["n"] for r in spark.read.parquet(p).collect()}
    assert got == {("m1", "c1"): 9, ("m2", "c1"): 1}


def test_streaming_available_now_resume(spark, tmp_path):
    """Streaming extraction with AvailableNow: first run processes existing
    files; second run picks up only new ones (checkpoint resume)."""
    import datetime as dt

    from article_extraction_spark.schemas import TRANSCRIPTS_SCHEMA
    from article_extraction_spark.streaming import run_available_now, streaming_extract

    in_dir, out_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    ts = dt.datetime(2024, 1, 1)

    batch1 = spark.createDataFrame(
        [("c1", 0, "user", "<p>hello</p>", None, ts), ("c1", 1, "user", "plain", None, ts)],
        TRANSCRIPTS_SCHEMA,
    )
    batch1.write.mode("append").parquet(in_dir)
    run_available_now(streaming_extract(spark, in_dir), out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == 2

    batch2 = spark.createDataFrame(
        [("c2", 0, "user", "<p>late</p>", None, ts), ("c2", 1, "user", "<div>no p</div>", None, ts)],
        TRANSCRIPTS_SCHEMA,
    )
    batch2.write.mode("append").parquet(in_dir)
    run_available_now(streaming_extract(spark, in_dir), out_dir, ckpt)
    out = spark.read.parquet(out_dir)
    assert out.count() == 3  # only c2 turn 0 added; empty extraction dropped
    assert {r["extracted_text"] for r in out.collect()} == {"hello", "plain", "late"}
