"""End-to-end training-data curation pipeline over the documents table —
the composition a 100 TB corpus run would actually execute, each stage an
already-oracled operator:

  0. BOILERPLATE  (optional) strip lines repeating across > N docs
  1. QUALITY   gopher-style heuristic flags → drop failing docs
  1b. LM SCORE (optional) drop docs below a bigram-LM log-prob floor
  2. EXACT DEDUP   md5 fingerprint groupBy → keep one doc per fingerprint
  3. NEAR DEDUP    MinHash-LSH + exact-Jaccard verify → connected
                   components → keep the canonical (min-id) doc per cluster
  4. DECONTAMINATE n-gram overlap vs a benchmark table → drop contaminated
  5. PII REDACT    emails / IPv4 / long digit runs → [PII]
  6. WRITE         curated parquet + one-row stats (kept/dropped per stage)

Scale notes: stages 2-4 are shingle/fingerprint-keyed shuffles (never
all-pairs); stage 3 materializes only the pair table and releases its
caches (dedup lifecycle); the final write is the only full-data sink. Every
drop is counted — no silent filtering.

Usage:
  spark-submit --py-files article_extraction_spark.zip jobs/curate_corpus.py \
      --docs /root/testdata/sf0.01/documents.parquet \
      --benchmark-ids 50 --out /tmp/curated
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from article_extraction_spark.session import get_spark


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    benchmark: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.85,
    contamination_ngram: int = 3,
    boilerplate_max_doc_freq: int | None = None,
    lm_score_floor: float | None = None,
    dedup_index_root: str | None = None,
    near_dup_index_root: str | None = None,
    substring_dedup_k: int | None = None,
    substring_max_dup_ratio: float = 0.5,
) -> dict:
    from article_extraction_spark.operators.dedup import (
        contamination_check,
        minhash_dedup,
    )
    from article_extraction_spark.operators.textstats import (
        fingerprint_col,
        gopher_flags_col,
        redact_pii,
    )

    from pyspark import StorageLevel

    stats: dict[str, int] = {"input": docs.count()}

    # 0. (optional) line-level boilerplate removal — BEFORE quality/dedup so
    # banners don't mask real content similarity or inflate quality stats
    if boilerplate_max_doc_freq is not None:
        from article_extraction_spark.operators.textstats import (
            remove_boilerplate_lines,
        )

        cleaned = remove_boilerplate_lines(
            docs, id_col, text_col, max_doc_freq=boilerplate_max_doc_freq
        ).select(id_col, F.col("text_clean").alias(text_col))
        other_cols = [c for c in docs.columns if c not in (id_col, text_col)]
        if other_cols:
            cleaned = cleaned.join(docs.select(id_col, *other_cols), id_col)
        docs = cleaned

    # 1. quality filter
    flagged = docs.withColumn("_g", gopher_flags_col(F.col(text_col)))
    quality = flagged.where(F.col("_g.passes")).drop("_g")
    stats["after_quality"] = quality.count()

    # 1b. (optional) bigram-LM fit floor (CCNet-style) — trained on the
    # post-quality corpus itself
    if lm_score_floor is not None:
        from article_extraction_spark.operators.textstats import bigram_lm_score

        lm = bigram_lm_score(quality, id_col, text_col)
        keep = lm.where(
            F.col("lm_score").isNull() | (F.col("lm_score") >= lm_score_floor)
        ).select(id_col)
        quality = quality.join(keep, id_col, "left_semi")
        stats["after_lm_score"] = quality.count()
        # NOTE: released after `exact` materializes — the semi-join plan
        # (and so the LM count tables) re-executes inside exact's build
        lm_cache = lm._retained_cache
    else:
        lm_cache = None

    # 2. exact dedup: keep the lowest id per fingerprint (one shuffle).
    # Persist the spine: exact feeds the stage count, the MinHash pass, the
    # contamination pass, AND the final write — uncached, the gopher filter
    # and fingerprint shuffle would re-execute ~5×
    keyed = quality.withColumn("_fp", fingerprint_col(F.col(text_col)))
    first = keyed.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    exact = keyed.join(first, ["_fp", id_col], "left_semi").withColumnRenamed(
        "_fp", "fingerprint"
    )
    exact = exact.persist(StorageLevel.MEMORY_AND_DISK)
    stats["after_exact_dedup"] = exact.count()
    if lm_cache is not None:
        lm_cache.unpersist(blocking=False)
    spine_caches = [exact]

    # 2b. (optional) CROSS-RUN incremental dedup: drop docs whose
    # fingerprint a previous curation run already PROCESSED (curated or
    # deliberately rejected by a later stage) — repeated runs over a
    # growing input only pay for genuinely new content. The index
    # records processed fingerprints, and the MERGE happens AFTER the
    # stage-6 write (review r4): committing here would make a crash in
    # stages 3-6 permanently suppress documents no run ever emitted.
    # Stage 2 already computed each doc's fingerprint, so this stage is
    # one anti-join on the existing column — no re-hash, no window.
    index = None
    if dedup_index_root is not None:
        from article_extraction_spark.catalog import ManifestTable

        index = ManifestTable(dedup_index_root)
        try:
            existing = index.read(spark).select("fingerprint")
        except FileNotFoundError:
            existing = None  # first run: empty index
        if existing is not None:
            pruned = exact.join(existing, "fingerprint", "left_anti").persist(
                StorageLevel.MEMORY_AND_DISK
            )
            stats["after_index_dedup"] = pruned.count()
            spine_caches.append(pruned)
            exact = pruned
        else:
            stats["after_index_dedup"] = stats["after_exact_dedup"]

    # 3. near dedup at CLUSTER granularity: pairs → connected components →
    # keep the canonical (min-id) doc per component. Dropping one side of
    # each pair would over/under-delete transitive duplicate chains.
    #
    # With --near-dup-index (round 7): pairs come from the PERSISTENT
    # MaintainedMinHashIndex instead of a per-run LSH pass — a doc
    # near-duplicating anything a PREVIOUS run already emitted drops (the
    # indexed side wins: it is already in the corpus), and within-batch
    # pairs go through the same CC-keep-min rule. The probe runs with
    # commit=False; the index commits AFTER the stage-6 write (same
    # write-before-merge reasoning as the exact index — a pre-write
    # commit would make a crash-retry skip near-dup detection, since a
    # replayed batch is a no-op against an index that already has it).
    from article_extraction_spark.operators.dedup import connected_components

    near_index = None
    if near_dup_index_root is not None:
        from article_extraction_spark.operators.minhash_index import (
            MaintainedMinHashIndex,
        )

        near_index = MaintainedMinHashIndex(near_dup_index_root)
        probe = near_index.ingest(
            spark,
            exact.select(id_col, text_col),
            id_col=id_col,
            text_col=text_col,
            threshold=jaccard_threshold,
            commit=False,
        )
        ma = exact.select(F.col(id_col).alias("id_a"), F.lit(True).alias("_a_new"))
        mb = exact.select(F.col(id_col).alias("id_b"), F.lit(True).alias("_b_new"))
        p = (
            probe["pairs"]
            .join(ma, "id_a", "left")
            .join(mb, "id_b", "left")
            .fillna(False, ["_a_new", "_b_new"])
        )
        # new-vs-indexed: the new side always drops (the old doc is
        # already published); new-vs-new: transitive closure, keep min
        vs_old = p.where(F.col("_a_new") != F.col("_b_new")).select(
            F.when(F.col("_a_new"), F.col("id_a")).otherwise(F.col("id_b")).alias(id_col)
        )
        nn = p.where(F.col("_a_new") & F.col("_b_new")).select("id_a", "id_b")
        comp = connected_components(nn)
        drop_ids = (
            comp.where(F.col("id") != F.col("component"))
            .select(F.col("id").alias(id_col))
            .unionByName(vs_old)
            .distinct()
        )
        # docs whose ID is already in the index were emitted by a prior
        # run — a replayed input is a no-op, not a re-emission (the probe
        # itself skipped them as non-fresh, so they produced no pairs)
        if probe["skipped_existing"]:
            already = near_index.sigs.read(spark).select(F.col("doc_id").alias(id_col))
            drop_ids = drop_ids.unionByName(
                exact.join(already, id_col, "left_semi").select(id_col)
            ).distinct()
        # materialize drop_ids BEFORE releasing the probe pairs: vs_old
        # reads them directly, and every downstream action (stage counts,
        # the stage-6 write) consumes drop_ids — an early unpersist
        # re-executed the whole LSH probe per action (review r7)
        drop_ids = drop_ids.persist(StorageLevel.MEMORY_AND_DISK)
        drop_ids.count()
        spine_caches.append(drop_ids)
        probe["pairs"].unpersist(blocking=False)
    else:
        pairs = minhash_dedup(exact, id_col, text_col, threshold=jaccard_threshold)
        comp = connected_components(pairs)
        drop_ids = comp.where(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    near = exact.join(drop_ids, id_col, "left_anti")
    stats["after_near_dedup"] = near.count()
    if near_dup_index_root is None:
        pairs.unpersist()

    # 3b. (optional) substring-level dedup (round 5, Lee et al. 2021):
    # among the near-dedup survivors, docs MOSTLY made of cross-corpus
    # repeated passages (dup_ratio > substring_max_dup_ratio) drop
    # wholesale; the rest have their duplicated spans stripped, keeping
    # each repeat's first occurrence. Runs AFTER document-level dedup so
    # whole-doc copies are already gone and the fingerprint volume is
    # the deduplicated corpus's.
    if substring_dedup_k is not None:
        from article_extraction_spark.operators.substring_dedup import (
            duplicate_spans,
            strip_duplicate_spans,
            substring_dup_stats,
        )

        # NOTE (review r5): this stage fingerprints twice by DESIGN, not
        # oversight — the ratio pass runs over the pre-drop corpus while
        # the strip pass runs over the post-drop survivors, and sharing
        # one positions table would let already-dropped documents keep
        # counting as duplicate occurrences for the survivors' strip.
        spans = duplicate_spans(near, k=substring_dedup_k, id_col=id_col, text_col=text_col)
        ratios = substring_dup_stats(near, spans, id_col=id_col, text_col=text_col)
        keep_ids = ratios.where(F.col("dup_ratio") <= substring_max_dup_ratio).select(id_col)
        kept = near.join(keep_ids, id_col, "left_semi")
        stripped = strip_duplicate_spans(
            kept, k=substring_dedup_k, id_col=id_col, text_col=text_col
        ).select(id_col, F.col("cleaned_text").alias(text_col))
        other = [c for c in near.columns if c not in (id_col, text_col)]
        near = stripped.join(near.select(id_col, *other), id_col) if other else stripped
        near = near.persist(StorageLevel.MEMORY_AND_DISK)
        stats["after_substring_dedup"] = near.count()
        spine_caches.append(near)

    # 4. decontamination vs the benchmark table
    contam = contamination_check(near, benchmark, id_col, text_col, ngram=contamination_ngram)
    clean_ids = contam.where(~F.col("contaminated")).select(id_col)
    clean = near.join(clean_ids, id_col, "left_semi")
    stats["after_decontamination"] = clean.count()

    # 5. PII redaction (native regexp — no row explosion). The internal
    # fingerprint column stays out of the published output.
    curated = redact_pii(clean.drop("fingerprint"), text_col, out_col="curated_text")

    # 6. write + stats, THEN the index commit (write-before-merge: a
    # crash anywhere above leaves the index untouched, so the re-run
    # replays everything instead of losing it; a crash between write and
    # merge just reprocesses — the merge is idempotent)
    curated.write.mode("overwrite").parquet(f"{out_dir}/curated")
    stats["output"] = stats["after_decontamination"]
    spark.createDataFrame([stats]).write.mode("overwrite").json(f"{out_dir}/stats")
    if index is not None:
        index.merge(
            spark,
            exact.select("fingerprint", F.col(id_col).alias("first_seen_id")),
            ["fingerprint"],
        )
    if near_index is not None:
        # index the EMITTED docs only (future runs dedup against what is
        # actually in the corpus; docs rejected by stages 4-5 stay
        # unindexed so a clean near-variant can still enter later) —
        # committed AFTER the write, re-ingest is idempotent on retry
        emitted = near_index.ingest(
            spark,
            clean.select(id_col, text_col),
            id_col=id_col,
            text_col=text_col,
            threshold=jaccard_threshold,
        )
        emitted["pairs"].unpersist(blocking=False)
    comp.unpersist(blocking=True)  # last consumer (the write) is done
    for c in spine_caches:  # the handles hold the caches, not projections
        c.unpersist(blocking=True)
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--benchmark-ids", type=int, default=50,
                    help="doc_id < N slice used as the benchmark table")
    ap.add_argument("--out", required=True)
    ap.add_argument("--jaccard", type=float, default=0.85)
    ap.add_argument("--contamination-ngram", type=int, default=13,
                    help="classic 13-gram rule; lower only for short-doc corpora")
    ap.add_argument("--boilerplate-max-doc-freq", type=int, default=None,
                    help="strip lines repeating across more than N docs (off by default)")
    ap.add_argument("--lm-score-floor", type=float, default=None,
                    help="drop docs with mean bigram log-prob below this (off by default)")
    ap.add_argument("--substring-dedup-k", type=int, default=None,
                    help="opt-in span-level dedup: strip >=k-char repeated passages "
                         "(keep-first), drop docs mostly made of repeats")
    ap.add_argument("--substring-max-dup-ratio", type=float, default=0.5)
    ap.add_argument("--near-dup-index", default=None,
                    help="MaintainedMinHashIndex root: near-dup detection against "
                         "previously emitted corpora (persistent, cross-run)")
    ap.add_argument("--dedup-index", default=None,
                    help="persistent fingerprint-index table root: drop docs "
                         "already curated by a previous run, commit this "
                         "run's survivors (off by default)")
    args = ap.parse_args()

    spark = get_spark(app_name="curate_corpus")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(args.docs)
    benchmark = docs.where(F.col("doc_id") < args.benchmark_ids)
    stats = curate_corpus(
        spark,
        docs,
        benchmark,
        args.out,
        jaccard_threshold=args.jaccard,
        contamination_ngram=args.contamination_ngram,
        boilerplate_max_doc_freq=args.boilerplate_max_doc_freq,
        lm_score_floor=args.lm_score_floor,
        substring_dedup_k=args.substring_dedup_k,
        substring_max_dup_ratio=args.substring_max_dup_ratio,
        dedup_index_root=args.dedup_index,
        near_dup_index_root=args.near_dup_index,
    )
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
