"""End-to-end: synthetic transcripts → pipeline → per-turn equality rate 1.0
vs independently-constructed goldens, under stable (conv_id, turn_idx) keys
(FIXTURES.md §1-2; BASELINE.md per-turn text-equality target)."""

from __future__ import annotations

from pyspark.sql import functions as F

from article_extraction_spark.fixtures.synth import (
    golden_df,
    synth_transcripts,
    transcripts_df,
)
from article_extraction_spark.extract.udfs import extract_stage
from article_extraction_spark.pipeline.convert import classify_turns, convert_transcripts, ordered_output


def test_per_turn_equality_rate_is_one(spark):
    rows, golden = synth_transcripts(n_convs=30, turns_per_conv=12, seed=42, mega_conv=False)
    tdf = transcripts_df(spark, rows)
    gdf = golden_df(spark, golden)

    out = convert_transcripts(tdf, num_partitions=8)

    joined = out.join(gdf, ["conv_id", "turn_idx"], "full_outer")
    stats = joined.select(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("extracted_text") == F.col("expected_text"), 1).otherwise(0)).alias("eq"),
        F.sum(F.col("extracted_text").isNull().cast("int")).alias("missing"),
        F.sum(F.col("expected_text").isNull().cast("int")).alias("extra"),
    ).first()
    assert stats["missing"] == 0, "pipeline dropped turns the golden expects"
    assert stats["extra"] == 0, "pipeline emitted turns the golden drops (empty conversions)"
    assert stats["eq"] == stats["n"] == len(golden)


def test_stable_ordering(spark):
    rows, _ = synth_transcripts(n_convs=10, turns_per_conv=8, seed=7, mega_conv=False)
    out = ordered_output(convert_transcripts(transcripts_df(spark, rows), num_partitions=4))
    collected = out.select("conv_id", "turn_idx").collect()
    keys = [(r["conv_id"], r["turn_idx"]) for r in collected]
    assert keys == sorted(keys)


def test_mega_conversation_skew_completes_and_spreads(spark):
    rows, golden = synth_transcripts(n_convs=5, turns_per_conv=10, seed=13, mega_conv=True)
    tdf = transcripts_df(spark, rows)
    out = convert_transcripts(tdf, num_partitions=8)
    # turn-level salting must spread the mega-conv's turns of every kind
    # across all salted partitions
    per_part = (
        out.withColumn("pid", F.spark_partition_id())
        .where(F.col("conv_id").endswith("-mega"))
        .groupBy("pid")
        .count()
        .collect()
    )
    assert len(per_part) == 8, f"mega-conv concentrated in {len(per_part)} partitions"
    counts = [r["count"] for r in per_part]
    assert max(counts) < 3 * min(counts), f"unbalanced: {counts}"
    assert out.count() == len(golden)


def test_with_readability_columns(spark):
    rows = [
        ("c", 0, "user", "<p>main body text, long enough to score well, with commas</p><nav>menu</nav>", None, None),
        ("c", 1, "user", "plain text turn", None, None),
    ]
    tdf = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp")
    out = {r["turn_idx"]: r for r in extract_stage(classify_turns(tdf), with_readability=True).collect()}
    assert "main body text" in out[0]["readability_text"]
    assert out[0]["link_density"] == 0.0
    # one scored <p> block (the <nav> is blocklisted): 54 chars, 2 commas
    assert out[0]["readability_blocks"] == 1
    assert out[0]["readability_max_score"] == 54 + 20 * 2
    for col in ("readability_text", "readability_blocks", "readability_max_score", "link_density"):
        assert out[1][col] is None  # diagnostics are html-only
    # baseline extraction unchanged
    assert out[0]["extracted_text"].startswith("main body text")


def test_readability_only_kind_is_scored_but_not_extracted():
    """A page typed READABILITY_ONLY gets the readability columns of the
    same page typed html, and no <p> extraction (empty text, no error)."""
    import pyarrow as pa

    from article_extraction_spark.extract.udfs import (
        READABILITY_COLUMNS,
        READABILITY_ONLY,
        extract_map_in_arrow,
    )

    page = "<p>main body text, long enough to score well, with commas</p><nav>menu</nav>"
    batch = pa.RecordBatch.from_pydict({"doc_kind": ["html", READABILITY_ONLY], "text": [page] * 2})
    (out,) = extract_map_in_arrow([batch], with_readability=True)
    html, only = out.to_pylist()
    assert html["extracted_text"].startswith("main body text")
    assert (only["extracted_text"], only["spans"], only["extract_error"]) == ("", [], None)
    assert html["readability_blocks"] == 1
    assert [only[c] for c in READABILITY_COLUMNS] == [html[c] for c in READABILITY_COLUMNS]


def test_doc_kind_classification_matches_python(spark):
    rows, _ = synth_transcripts(n_convs=20, turns_per_conv=10, seed=99, mega_conv=False)
    from article_extraction_spark.extract.core import classify_payload
    from article_extraction_spark.extract.udfs import classify_payload_col

    tdf = transcripts_df(spark, rows)
    got = tdf.select("text", classify_payload_col(F.col("text")).alias("k")).collect()
    for r in got:
        assert r["k"] == classify_payload(r["text"])


def test_arrow_extraction_stage_contract(spark):
    """extract_stage consumes ``text``, passes every other column through
    and appends text, spans and a captured (not raised) error; the stage
    body also runs in-process on a bare Arrow batch with the same result.
    Byte-for-byte outputs are pinned by test_extract_golden.py."""
    import pyarrow as pa

    from article_extraction_spark.extract.udfs import extract_map_in_arrow

    rows = [
        ("c1", 0, "html", "<p>alpha</p><div>skip</div><p>beta</p>"),
        ("c1", 1, "html", "<p></p>"),                      # drops: no paragraphs
        ("c1", 2, "html", "&amp; <p>entity path</p>"),      # parser fallback
        ("c1", 3, "pdf", "JVBERi0xLjQKJSVFT0Y="),           # undecodable → error
        ("c1", 4, "pdf", "%PDF-garbage"),                   # error path
        ("c2", 0, "html", "<p>  padded  </p>\n<p>two</p>"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, doc_kind string, text string"
    ).withColumn("n_source_bytes", F.octet_length("text").cast("long"))

    out = extract_stage(df)
    names = ["conv_id", "turn_idx", "doc_kind", "n_source_bytes", "extracted_text", "spans", "extract_error"]
    assert out.columns == names
    a = sorted(map(tuple, out.collect()))
    # spans survive as real offsets through the arrow batch assembly
    by_key = {(r[0], r[1]): r for r in a}
    good = by_key[("c1", 0)]
    assert good[4] == "alpha\nbeta" and [tuple(s) for s in good[5]] == [(3, 8), (30, 34)]
    assert by_key[("c1", 3)][6] is not None  # error captured, not raised

    batch = pa.RecordBatch.from_pylist(
        [dict(zip(["conv_id", "turn_idx", "doc_kind", "text"], r), n_source_bytes=len(r[3])) for r in rows]
    ).select(["conv_id", "turn_idx", "doc_kind", "n_source_bytes", "text"])
    (local,) = list(extract_map_in_arrow(iter([batch])))
    assert local.schema.names == names

    def plain(r):  # spans as (start, end) pairs, from Rows or Arrow dicts
        return (*r[:5], [tuple(s.values() if isinstance(s, dict) else s) for s in r[5]], r[6])

    assert sorted(map(plain, a)) == sorted(plain(list(d.values())) for d in local.to_pylist())


def test_checkpoint_readers_probe_missing_destination(spark, tmp_path, monkeypatch):
    """On a destination that does not exist yet (every fresh run) the
    checkpoint's readers return None without starting Spark's reader, which
    would log a FileNotFoundException stack trace before it raised."""
    from pyspark.sql import DataFrameReader

    from article_extraction_spark.pipeline.checkpoint import read_lineage, read_turns

    def no_reader(*args, **kwargs):
        raise AssertionError("DataFrameReader.parquet called on a missing path")

    monkeypatch.setattr(DataFrameReader, "parquet", no_reader)
    for dest in (str(tmp_path / "missing"), (tmp_path / "missing").as_uri()):
        assert read_lineage(spark, dest) is None
        assert read_turns(spark, dest) is None
