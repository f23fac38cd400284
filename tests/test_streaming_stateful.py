"""The extraction stream's checkpointed resume: an AvailableNow restart
processes only the files added since the last commit."""

from __future__ import annotations


def test_available_now_stop_restart_exactly_once(spark, tmp_path):
    """VERDICT r3 item 10: Trigger.AvailableNow stop/restart over a growing
    file source — run 1 processes the initial files and commits the
    checkpoint; run 2 (same checkpoint) picks up ONLY the new files; no row
    is emitted twice (exactly-once over conv_id/turn_idx)."""
    from article_extraction_spark.fixtures import synth_transcripts, transcripts_df
    from article_extraction_spark.streaming.ingest import (
        run_available_now,
        streaming_extract,
    )

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    rows, _ = synth_transcripts(n_convs=6, turns_per_conv=5, mega_conv=False)
    batch1 = [r for r in rows if r[0] < "conv-000003"]
    batch2 = [r for r in rows if r[0] >= "conv-000003"]
    transcripts_df(spark, batch1).coalesce(1).write.mode("append").parquet(in_dir)

    run_available_now(streaming_extract(spark, in_dir), out_dir, ckpt)
    out1 = spark.read.parquet(out_dir).select("conv_id", "turn_idx").collect()
    n1 = len(out1)
    assert n1 > 0
    assert len({(r[0], r[1]) for r in out1}) == n1  # no dupes in run 1

    # restart with NEW files only added after the first commit
    transcripts_df(spark, batch2).coalesce(1).write.mode("append").parquet(in_dir)
    run_available_now(streaming_extract(spark, in_dir), out_dir, ckpt)
    out2 = spark.read.parquet(out_dir).select("conv_id", "turn_idx").collect()
    keys2 = {(r[0], r[1]) for r in out2}
    assert len(keys2) == len(out2), "restart re-emitted already-committed rows"
    assert len(out2) > n1  # the new files were processed
    new_convs = {r[0] for r in out2} - {r[0] for r in out1}
    assert new_convs and all(c >= "conv-000003" for c in new_convs)

    # a third restart with nothing new appends nothing
    run_available_now(streaming_extract(spark, in_dir), out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == len(out2)
