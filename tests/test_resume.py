"""Checkpoint/lineage + idempotent resume (SURVEY.md §5 resume test).

Run → wipe a subset of buckets (output + lineage) → re-run → final table
identical; lineage shows only the missing buckets reprocessed."""

from __future__ import annotations

import hashlib
import os
import shutil

import pytest
from pyspark.sql import functions as F

from article_extraction_spark.fixtures.synth import synth_transcripts, transcripts_df
from article_extraction_spark.pipeline.checkpoint import (
    completed_buckets,
    input_snapshot_id,
    read_lineage,
    read_turns,
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


def test_file_uri_destination_resumes(spark, tmp_path):
    """The checkpoint reaches its destination only through Spark, so a
    ``file://`` destination resumes like a plain path: the second run skips
    every bucket, and the lineage holds one row per bucket."""
    rows, _ = synth_transcripts(n_convs=16, turns_per_conv=3, seed=17, mega_conv=False)
    tdf = transcripts_df(spark, rows)
    dest = (tmp_path / "out").as_uri()
    first = run_with_checkpoint(spark, tdf, dest, n_buckets=4, run_id="r1", input_snapshot="s1")
    assert first["buckets_processed"] == 4
    second = run_with_checkpoint(spark, tdf, dest, n_buckets=4, run_id="r2", input_snapshot="s1")
    assert (second["resumed_from"], second["buckets_processed"]) == (4, 0)
    lineage = read_lineage(spark, dest)
    assert sorted(r["partition_id"] for r in lineage.collect()) == [0, 1, 2, 3]


def _os_walk_snapshot_id(input_path):
    """The snapshot id as the os-module listing computed it; destinations
    checkpointed against that id must stay current."""
    entries = []
    for root, _dirs, files in sorted(os.walk(input_path)):
        for name in sorted(files):
            if not name.startswith(("_", ".")):
                full = os.path.join(root, name)
                st = os.stat(full)
                entries.append(f"{os.path.relpath(full, input_path)}:{st.st_size}:{int(st.st_mtime)}")
    return "snap-" + hashlib.sha256("\n".join(entries).encode()).hexdigest()[:16]


def test_input_snapshot_id_lists_through_hadoop(spark, tmp_path):
    """The snapshot id is the same for a plain path and its ``file://``
    URI, keeps the os-listing id of a Spark-written (partitioned) directory,
    changes when a file is appended, and fingerprints a single-file input
    instead of hashing an empty listing."""
    empty_id = "snap-" + hashlib.sha256(b"").hexdigest()[:16]
    path = str(tmp_path / "in")
    df = spark.range(40).selectExpr("id", "id % 3 as part")
    df.write.partitionBy("part").parquet(path)
    snap = input_snapshot_id(spark, path)
    assert snap == input_snapshot_id(spark, (tmp_path / "in").as_uri()) == _os_walk_snapshot_id(path)
    assert snap != empty_id

    df.write.mode("append").partitionBy("part").parquet(path)
    assert input_snapshot_id(spark, path) not in (snap, empty_id)

    one = next(
        os.path.join(root, f) for root, _d, files in os.walk(path) for f in files if f.endswith(".parquet")
    )
    assert input_snapshot_id(spark, one) != empty_id


def test_uncommitted_lineage_directory_starts_over(spark, tmp_path):
    """A lineage directory holding only a crashed run's ``_temporary/`` has
    no committed row: it reads as empty, so the run processes every bucket
    instead of failing to infer a schema."""
    rows, _ = synth_transcripts(n_convs=16, turns_per_conv=3, seed=19, mega_conv=False)
    tdf = transcripts_df(spark, rows)
    dest = tmp_path / "out"
    (dest / "lineage" / "_temporary" / "0").mkdir(parents=True)
    stats = run_with_checkpoint(spark, tdf, str(dest), n_buckets=4, run_id="r1", input_snapshot="s1")
    assert (stats["resumed_from"], stats["buckets_processed"]) == (0, 4)
    assert read_lineage(spark, str(dest)).count() == 4


def _jobs_started(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_lineage_reads_start_one_job(spark, tmp_path):
    """Reading the lineage with its declared schema starts no job (nothing
    is inferred), and finding the completed buckets is one filtered scan."""
    rows, _ = synth_transcripts(n_convs=16, turns_per_conv=3, seed=23, mega_conv=False)
    dest = str(tmp_path / "out")
    run_with_checkpoint(spark, transcripts_df(spark, rows), dest, n_buckets=4, input_snapshot="s1")
    assert _jobs_started(spark, "lineage-read", lambda: read_lineage(spark, dest)) == 0
    done = []
    assert _jobs_started(
        spark, "lineage-scan", lambda: done.append(completed_buckets(spark, dest, "s1", 4))
    ) == 1
    assert done == [{r["partition_id"] for r in read_lineage(spark, dest).collect()}]


def test_all_null_bucket_counts_zero_bytes_in(spark, tmp_path):
    """A bucket whose every text is null has read 0 source bytes: the
    lineage records 0, not null, matching its declared non-null column."""
    import datetime as dt

    from article_extraction_spark.schemas import TRANSCRIPTS_SCHEMA

    ts = dt.datetime(2024, 1, 1)
    tdf = spark.createDataFrame([("c", i, "user", None, None, ts) for i in range(3)], TRANSCRIPTS_SCHEMA)
    dest = str(tmp_path / "out")
    run_with_checkpoint(spark, tdf, dest, n_buckets=1, run_id="r", input_snapshot="s")
    lin = read_lineage(spark, dest).first()
    assert (lin["rows_in"], lin["bytes_in"]) == (3, 0)


def test_lineage_inferred_from_rows_still_resumes(spark, tmp_path):
    """Lineage written from collected rows with an inferred schema (every
    integer column a nullable long) still resumes, and new lineage files
    append next to it."""
    rows, golden = synth_transcripts(n_convs=24, turns_per_conv=3, seed=29, mega_conv=False)
    tdf = transcripts_df(spark, rows)
    dest = str(tmp_path / "out")
    run_with_checkpoint(spark, tdf, dest, n_buckets=8, run_id="r1", input_snapshot="s1")
    kept = read_lineage(spark, dest).where(F.col("partition_id") >= 2).collect()
    shutil.rmtree(f"{dest}/lineage")
    spark.createDataFrame(kept).write.parquet(f"{dest}/lineage")
    for b in range(2):
        shutil.rmtree(f"{dest}/turns/bucket={b}", ignore_errors=True)

    stats = run_with_checkpoint(spark, tdf, dest, n_buckets=8, run_id="r2", input_snapshot="s1")
    assert (stats["resumed_from"], stats["buckets_processed"]) == (6, 2)
    assert read_lineage(spark, dest).count() == 8
    assert read_turns(spark, dest).count() == len(golden)
    again = run_with_checkpoint(spark, tdf, dest, n_buckets=8, run_id="r3", input_snapshot="s1")
    assert (again["resumed_from"], again["buckets_processed"]) == (8, 0)


def test_one_lineage_file_per_run(spark, tmp_path):
    """Each run appends its lineage rows as one file, so a resume lists and
    reads one small file per earlier run, not one per core."""
    rows, _ = synth_transcripts(n_convs=24, turns_per_conv=3, seed=31, mega_conv=False)
    tdf = transcripts_df(spark, rows)
    dest = tmp_path / "out"
    for run, snap in (("r1", "s1"), ("r2", "s2")):
        run_with_checkpoint(spark, tdf, str(dest), n_buckets=8, run_id=run, input_snapshot=snap)
    files = [f for f in os.listdir(dest / "lineage") if not f.startswith(("_", "."))]
    assert len(files) == 2
