"""Checkpoint/lineage + idempotent resume (SURVEY.md §5 resume test).

Run → wipe a subset of buckets (output + lineage) → re-run → final table
identical; lineage shows only the missing buckets reprocessed."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from article_extraction_spark.fixtures.synth import synth_transcripts, transcripts_df
from article_extraction_spark.pipeline.checkpoint import (
    read_lineage,
    read_turns,
    resume_missing_turns,
    run_with_checkpoint,
)


def _snapshot(df):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"])
        for r in df.select("conv_id", "turn_idx", "extracted_text").collect()
    )


def test_checkpoint_resume_idempotent(spark, tmp_path):
    rows, golden = synth_transcripts(n_convs=24, turns_per_conv=10, seed=5, mega_conv=False)
    tdf = transcripts_df(spark, rows)
    dest = str(tmp_path / "out")

    stats1 = run_with_checkpoint(spark, tdf, dest, n_buckets=8, run_id="r1", input_snapshot="s1")
    assert stats1["buckets_processed"] == 8
    full = _snapshot(read_turns(spark, dest))
    assert len(full) == len(golden)

    # simulate partial loss: drop buckets 0..2 from output and lineage
    lineage = read_lineage(spark, dest)
    keep = lineage.where(F.col("partition_id") >= 3)
    keep_rows = keep.collect()
    shutil.rmtree(f"{dest}/lineage")
    spark.createDataFrame(keep_rows, schema=lineage.schema).write.parquet(f"{dest}/lineage")
    for b in range(3):
        shutil.rmtree(f"{dest}/turns/bucket={b}", ignore_errors=True)

    stats2 = run_with_checkpoint(spark, tdf, dest, n_buckets=8, run_id="r2", input_snapshot="s1")
    assert stats2["resumed_from"] == 5
    assert stats2["buckets_processed"] == 3

    assert _snapshot(read_turns(spark, dest)) == full
    lineage2 = read_lineage(spark, dest)
    assert lineage2.count() == 8
    redone = {r["partition_id"] for r in lineage2.where(F.col("run_id") == "r2").collect()}
    assert redone == {0, 1, 2}


def test_lineage_metrics_counts_kinds_and_failures(spark, tmp_path):
    import datetime as dt

    from article_extraction_spark.schemas import TRANSCRIPTS_SCHEMA

    ts = dt.datetime(2024, 1, 1)
    rows = [
        ("c", 0, "user", "<p>html row</p>", None, ts),
        ("c", 1, "user", "plain txt", None, ts),
        ("c", 2, "user", '{"j": 1}', None, ts),
        ("c", 3, "user", "JVBERi0 not really base64!!!", None, ts),  # pdf → failure
        ("c", 4, "user", "<div>no paragraphs</div>", None, ts),  # html → empty
    ]
    tdf = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    dest = str(tmp_path / "out")
    stats = run_with_checkpoint(spark, tdf, dest, n_buckets=1, run_id="r", input_snapshot="s")
    assert stats == {"buckets_processed": 1, "rows_out": 3, "rows_empty": 1, "resumed_from": 0}
    lin = read_lineage(spark, dest).first()
    assert lin["rows_in"] == 5 and lin["rows_out"] == 3
    assert lin["rows_empty"] == 1 and lin["rows_failed"] == 1
    assert (lin["n_html"], lin["n_pdf"], lin["n_txt"], lin["n_json"]) == (2, 1, 1, 1)
    # failed/empty rows never reach the output table
    assert read_turns(spark, dest).count() == 3


def test_rerun_is_noop(spark, tmp_path):
    rows, _ = synth_transcripts(n_convs=6, turns_per_conv=6, seed=3, mega_conv=False)
    tdf = transcripts_df(spark, rows)
    dest = str(tmp_path / "out")
    run_with_checkpoint(spark, tdf, dest, n_buckets=4)
    before = _snapshot(read_turns(spark, dest))
    stats = run_with_checkpoint(spark, tdf, dest, n_buckets=4, run_id="r2")
    assert stats["buckets_processed"] == 0
    assert _snapshot(read_turns(spark, dest)) == before


def test_new_input_snapshot_reprocesses_buckets(spark, tmp_path):
    """Bucket-level resume is bound to the input snapshot: when the input
    table advances (new snapshot id), previously completed buckets must be
    re-extracted — new rows can hash into them (ADVICE r1: the old behavior
    silently skipped such rows)."""
    rows, golden = synth_transcripts(n_convs=10, turns_per_conv=4, seed=7, mega_conv=False)
    dest = str(tmp_path / "out")
    tdf1 = transcripts_df(spark, rows[: len(rows) // 2])
    run_with_checkpoint(spark, tdf1, dest, n_buckets=4, run_id="r1", input_snapshot="s1")

    # table grows → new snapshot; same dest. All 4 buckets re-run.
    tdf2 = transcripts_df(spark, rows)
    stats = run_with_checkpoint(spark, tdf2, dest, n_buckets=4, run_id="r2", input_snapshot="s2")
    assert stats["resumed_from"] == 0
    from article_extraction_spark.pipeline.partitioning import bucket_col

    n_nonempty = tdf2.select(bucket_col(F.col("conv_id"), 4).alias("b")).distinct().count()
    assert stats["buckets_processed"] == n_nonempty
    # dynamic partition overwrite keeps the output exactly = full input's
    # non-empty extractions (golden), including rows added after run 1
    assert read_turns(spark, dest).select("conv_id", "turn_idx").distinct().count() == len(golden)

    # re-run at the SAME snapshot is still a no-op
    stats3 = run_with_checkpoint(spark, tdf2, dest, n_buckets=4, run_id="r3", input_snapshot="s2")
    assert stats3["buckets_processed"] == 0


def test_resume_refuses_a_different_bucket_layout(spark, tmp_path):
    """Bucket ids of one n_buckets name other conversations under another:
    resuming 4 buckets as 8 would skip new buckets 0-3 as done and write
    4-7 again, duplicating their rows. The resume is refused instead."""
    rows, golden = synth_transcripts(n_convs=50, turns_per_conv=10, seed=13, mega_conv=False)
    tdf = transcripts_df(spark, rows)
    dest = str(tmp_path / "out")
    run_with_checkpoint(spark, tdf, dest, n_buckets=4, run_id="r1", input_snapshot="s1")
    before = _snapshot(read_turns(spark, dest))

    with pytest.raises(ValueError, match=r"n_buckets=4.*n_buckets=8"):
        run_with_checkpoint(spark, tdf, dest, n_buckets=8, run_id="r2", input_snapshot="s1")

    after = read_turns(spark, dest)
    assert after.count() == after.select("conv_id", "turn_idx").distinct().count() == len(golden)
    assert _snapshot(after) == before
    assert {r["n_buckets"] for r in read_lineage(spark, dest).collect()} == {4}


def test_row_granular_anti_join_resume(spark):
    rows, golden = synth_transcripts(n_convs=8, turns_per_conv=6, seed=11, mega_conv=False)
    tdf = transcripts_df(spark, rows)
    from article_extraction_spark.pipeline.convert import convert_transcripts

    done = convert_transcripts(tdf, num_partitions=4).limit(10)
    done_keys = [(r["conv_id"], r["turn_idx"]) for r in done.select("conv_id", "turn_idx").collect()]
    pending = resume_missing_turns(tdf, done)
    pend_keys = {(r["conv_id"], r["turn_idx"]) for r in pending.select("conv_id", "turn_idx").collect()}
    assert pend_keys.isdisjoint(done_keys)
    assert len(pend_keys) == len(rows) - len(done_keys)
