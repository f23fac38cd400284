"""Structured-Streaming surface (SURVEY.md §2.10).

The reference is strictly batch with key-level incremental resume; its
Spark-native generalization is a file-source stream over the transcripts
directory with ``Trigger.AvailableNow`` — process everything present, commit
offsets to the checkpoint, stop; the next run resumes from the checkpoint.
That is exactly the reference's "resume from what's done" semantics with
exactly-once bookkeeping handled by the engine instead of an anti-join.

The extraction transformations are all per-row (classify + the Arrow
extraction stage), so the same plan builders work unchanged on a streaming
DataFrame; windowed turn-rate metrics with a watermark handle late arrivals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extract.udfs import classify_payload_col, extract_stage
from ..schemas import TRANSCRIPTS_SCHEMA


def streaming_extract(spark: SparkSession, input_dir: str) -> DataFrame:
    """readStream over a transcripts parquet directory → extracted turns.

    Row-local plan (no shuffle) — append-mode compatible.
    """
    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA).format("parquet").load(input_dir)
    )
    classified = stream.select(
        "conv_id",
        "turn_idx",
        "ts",
        "text",
        classify_payload_col(F.col("text")).alias("doc_kind"),
    )
    # every row goes through the one stage, as in the batch plan
    extracted = extract_stage(classified).select(
        "conv_id", "turn_idx", "ts", "doc_kind", "extracted_text", "spans"
    )
    return extracted.where(F.length("extracted_text") > 0)


def streaming_turn_metrics(extracted: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Windowed per-kind turn counts with late-data watermark."""
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "doc_kind")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.length("extracted_text")).alias("chars_out"),
        )
    )


def run_available_now(
    df: DataFrame, out_dir: str, checkpoint_dir: str, query_name: str = "extract"
) -> None:
    """Incremental batch: process all currently-available input, commit the
    checkpoint, stop. Re-running picks up only NEW files — the streaming
    twin of pipeline.checkpoint's bucket resume."""
    q = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    q.awaitTermination()


def streaming_dedup(
    extracted: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    by_content: bool = False,
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST occurrence per key within the
    watermark horizon (``dropDuplicatesWithinWatermark``), so state is
    bounded by the event-time window — a trillion-turn stream carries only
    the last <watermark> of keys in the state store, unlike plain
    dropDuplicates whose state grows forever. ``by_content=True`` dedups on
    the md5 content fingerprint (streaming twin of exact_duplicates)."""
    if by_content:
        if keys is not None:
            raise ValueError(
                "pass either keys or by_content=True, not both — combining "
                "them silently changes which rows count as duplicates"
            )
        # the SAME normalized fingerprint as batch exact_duplicates — raw
        # md5 here silently diverged from the batch twin once the batch key
        # became normalization-aware (review r3)
        from ..operators.textstats import fingerprint_col

        extracted = extracted.withColumn("_fp", fingerprint_col(F.col("extracted_text")))
        keys = ["_fp"]
    elif keys is None:
        keys = ["conv_id", "turn_idx"]
    out = extracted.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return out.drop("_fp") if by_content else out


def run_available_now_merge(
    df: DataFrame,
    table_root: str,
    checkpoint_dir: str,
    keys: list[str],
    query_name: str = "extract-merge",
) -> None:
    """Incremental batch with UPSERT semantics: each micro-batch MERGEs into
    a catalog.ManifestTable on ``keys`` via foreachBatch.

    Exactly-once across restarts comes from TWO layers: the streaming
    checkpoint replays each epoch's exact input files, and a replayed
    micro-batch (same rows, same keys) MERGEs idempotently — re-upserting
    identical rows is a no-op for the final table state. This is the
    streaming twin of sinks.upsert/ManifestTable.merge — use it when the
    stream needs KEYED upserts. For append-only streams the catalog now
    has a native sink: ``writeStream.format("manifest_table")``
    (sources/manifest_source.py), whose per-batch manifests record the
    micro-batch id for replay-proof exactly-once appends."""
    from ..catalog import ManifestTable

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ManifestTable(table_root).merge(batch_df.sparkSession, batch_df, keys)

    q = (
        df.writeStream.foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    q.awaitTermination()


def run_available_now_dedup_ingest(
    df: DataFrame,
    out_dir: str,
    index_root: str,
    checkpoint_dir: str,
    id_cols: list[str] | None = None,
    text_col: str = "extracted_text",
    query_name: str = "dedup-ingest",
    merge_retries: int = 3,
) -> None:
    """Streaming twin of `operators.dedup.incremental_exact_dedup`
    (round 4): each micro-batch is fingerprint-deduped against the
    PERSISTENT index before landing — within-batch first, then
    left_anti vs everything any previous batch (or run) committed —
    and the survivors append to ``out_dir`` while their fingerprints
    MERGE into the index.

    Cross-restart exactly-once, and the ORDER is load-bearing (review
    r4): the parquet append happens BEFORE the index MERGE. A crash
    after the append but before the merge means the restart's replayed
    batch still anti-joins to the same survivors (their fingerprints
    never landed) and re-appends them — at-least-once for the parquet
    sink, which is why every row carries its ``fingerprint`` column for
    reader-side dedup of replay overlap. The reverse order would be
    data LOSS: a durably-merged fingerprint makes the replayed batch
    dedup to empty while the rows never reached ``out_dir``. The index
    merge itself is idempotent (re-merging the same fingerprints is a
    no-op for table state); a concurrent index writer surfaces as
    CommitConflict and the merge retries ``merge_retries`` times
    against the new head before failing the query (the checkpoint then
    replays the whole batch on restart — append-then-dedup keeps that
    safe too)."""
    from ..catalog import CommitConflict, ManifestTable
    from ..operators.dedup import incremental_exact_dedup

    id_sort = id_cols or ["conv_id", "turn_idx"]

    def _dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        keyed = batch_df.withColumn(
            "_ingest_id", F.concat_ws("\x1f", *[F.col(c).cast("string") for c in id_sort])
        )
        index = ManifestTable(index_root)
        fresh = incremental_exact_dedup(
            keyed, "_ingest_id", text_col, index, spark, commit=False
        )
        try:
            fresh.drop("_ingest_id").write.mode("append").parquet(out_dir)
            fingerprints = fresh.select(
                "fingerprint", F.col("_ingest_id").alias("first_seen_id")
            )
            for attempt in range(merge_retries + 1):
                try:
                    index.merge(spark, fingerprints, ["fingerprint"])
                    break
                except CommitConflict:
                    if attempt == merge_retries:
                        raise
        finally:
            fresh.unpersist()

    q = (
        df.writeStream.foreachBatch(_dedup_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    q.awaitTermination()


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_delay: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join (round 4): each left row
    pairs with same-key right rows whose timestamp falls in
    [left.ts, left.ts + max_delay] — e.g. a turn joined with the tool
    events it triggered.

    Both sides carry watermarks AND the join condition carries the time
    interval, which is what lets Spark BOUND the join state: buffered
    rows are evicted once the watermark passes their join window. A
    stream-stream equi-join without the range condition buffers both
    streams forever — the state-explosion footgun at 10^12 turns.

    Output schema: all left columns as-is, plus EVERY right column
    except the (equal) join key, each suffixed ``_r`` — deterministic
    and collision-free even when both sides share column names (review
    r4: un-suffixed right values made a shared ``text`` column
    ambiguous and the write fail)."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    joined = l.join(r, cond, "inner")
    return joined.select(
        "l.*",
        *[
            F.col(f"r.{c}").alias(f"{c}_r")
            for c in right.columns
            if c != key
        ],
    )


def run_available_now_minhash_ingest(
    df: DataFrame,
    pairs_out_dir: str,
    index_root: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    n_buckets: int = 16,
    query_name: str = "minhash-ingest",
) -> None:
    """Streaming twin of ``MaintainedMinHashIndex.ingest`` (round 7):
    each micro-batch indexes against the persistent signature index and
    its verified near-dup pairs append to ``pairs_out_dir``.

    Exactly-once comes from the INDEX, not the checkpoint: a replayed
    batch's doc ids are already in the signature table, so it produces
    zero new docs and zero pairs — re-running the whole stream over the
    same corpus emits nothing new. The pairs sink is written INSIDE
    ``ingest`` via ``on_pairs`` (before the index commits): a crash
    between the pairs append and the index commit re-appends the same
    pairs on replay (at-least-once parquet, readers dedup on
    (id_a, id_b)); the reverse order would lose them forever — the same
    append-before-merge lesson as ``run_available_now_dedup_ingest``."""
    from ..operators.minhash_index import MaintainedMinHashIndex

    def _index_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        idx = MaintainedMinHashIndex(
            index_root, num_hashes=num_hashes, bands=bands, n_buckets=n_buckets
        )
        stats = idx.ingest(
            spark,
            batch_df,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            on_pairs=lambda p: p.write.mode("append").parquet(pairs_out_dir),
        )
        stats["pairs"].unpersist(blocking=False)

    q = (
        df.writeStream.foreachBatch(_index_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
    q.awaitTermination()
