"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[N], N = session.host_cpus() ($SPARK_GRAFT_CPUS overrides
the host's core count). Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Every query is forced end-to-end through the noop sink (full computation, no
collect overhead). The flagship extraction stage also reports turns/sec —
the BASELINE.json metric.

The JSON carries two timing blocks: "queries" (min-of-3, first pass — has
session-warmup and host-contention noise baked into round-over-round
comparisons) and "warm_min5" (min-of-5 after the session is fully warm —
the stable signal; compare THIS across rounds, see BASELINE.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from article_extraction_spark.session import get_spark, host_cpus  # noqa: E402


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = host_cpus()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    from article_extraction_spark.fixtures.synth import amplified_transcripts
    from article_extraction_spark.pipeline import convert_transcripts

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # --- flagship: extraction stage over the amplified transcript corpus ---
    transcripts = amplified_transcripts(spark, sf_dir)
    transcripts = transcripts.persist()
    n_turns = transcripts.count()  # materialize input outside the timed span

    # min of N iterations: the shared sandbox host fluctuates ±4x; min is
    # the standard noise-robust estimator
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        _force(convert_transcripts(transcripts))
        times.append(time.perf_counter() - t0)
    dt = min(times)
    timings["extract_transcripts"] = round(dt, 3)
    extras["extract_turns"] = n_turns
    extras["extract_turns_per_sec"] = round(n_turns / dt, 1)
    extras["extract_all_seconds"] = [round(x, 3) for x in times]
    transcripts.unpersist()

    # --- headline operator queries (driver-contract surface) ---
    # min-of-N for EVERY query, not just the flagship (VERDICT r1: single-shot
    # timings on a ±20%-noise shared host made round-over-round deltas
    # meaningless — parse_numeric's 13.6 s was warmup, not the plan)
    qs = entry.queries()
    for name in [
        "convert_html",
        "left_join_counts",
        "latest_order_per_customer",
        "desc_stats",
        "topk_orders",
        "cumulative_mean",
        "parse_numeric",
        "token_counts",
        "fingerprint",
        "cosine_topk",
        "minhash_near_dups",
        "simhash_near_dups",
        "media_features",
        "pii_redaction",
        "contamination",
    ]:
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            _force(qs[name](spark, sf_dir))
            runs.append(time.perf_counter() - t0)
            # dedup operators persist intermediates by design; keep per-query
            # timings independent of accumulated cache memory
            spark.catalog.clearCache()
        timings[name] = round(min(runs), 3)

    # round-3+ operators: cold single-shot into extras (NOT the headline
    # total, which stays the fixed r1/r2 set for round-over-round
    # comparability) PLUS a warm min-of-2 re-run per extra (VERDICT r4 #8:
    # the cold numbers are fixture/pipeline-construction-dominated; the
    # warm block is the comparable steady-state signal — e.g. for the bpe
    # queries the warm runs hit the per-sf merge cache, isolating
    # encode+invariant cost from the one-off training).
    extras_warm: dict[str, float] = {}
    for name in [
        "pack_blocks", "bigram_lm_score", "boilerplate_lines", "pdf_layout",
        "jpeg_decode", "jpeg_progressive", "ivf_topk", "tfidf_top_terms",
        "ngram_jaccard", "incremental_dedup", "zorder_box", "bpe_roundtrip",
        "bpe_token_ops", "substring_dup_spans", "substring_strip",
        "rollup_refresh", "bm25", "domain_mixture", "mor_delete",
        "table_diff", "winsorize", "near_dup_prune", "corpus_card",
        "length_batches", "unicode_nfc", "semantic_pairs", "grouped_mad",
        "pq_codes", "pq_residual_codes", "bm25_incremental",
        "stats_pruned_read", "bloom_anti",
        "cm_sketch", "cm_incremental", "hll_distinct", "weighted_sample", "hll_incremental",
        "pagerank", "bloom_point_read", "update_where", "positional_delete",
        "minhash_incremental", "ivfadc_rerank", "changelog", "expectations", "rollback", "heavy_hitters", "hist_quantiles", "hist_incremental",
    ]:
        if name in qs:
            runs = []
            for _ in range(3):
                t0 = time.perf_counter()
                _force(qs[name](spark, sf_dir))
                runs.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
            extras[f"{name}_seconds"] = round(runs[0], 3)
            extras_warm[f"{name}_seconds"] = round(min(runs[1:]), 3)

    # --- bm25 steady-state probe (VERDICT r6 #7) ---
    # bm25_incremental_seconds above rebuilds the FULL index lifecycle
    # (table create + two ingest/refresh/export cycles) per run — a
    # fixture artifact, not probe cost. Build the index ONCE here and
    # time only the partition-pruned query probe, the number a serving
    # deployment actually pays.
    import shutil as _shutil
    import tempfile as _tempfile

    from article_extraction_spark.operators.retrieval import MaintainedBM25Index

    bm25_root = f"{_tempfile.gettempdir()}/aes_bm25_bench_{os.path.basename(os.path.normpath(sf_dir))}"
    _shutil.rmtree(bm25_root, ignore_errors=True)
    bm_idx = MaintainedBM25Index(bm25_root, n_buckets=16)
    bm_idx.ingest(
        spark,
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
            "doc_id", "text"
        ),
    )
    bm_queries = spark.createDataFrame(
        [(1, "merge sort join"), (2, "spark filter customer"), (3, "window hash scan")],
        "query_id long, qtext string",
    )
    runs = []
    for _ in range(4):
        t0 = time.perf_counter()
        _force(bm_idx.topk(spark, bm_queries, k=10))
        runs.append(time.perf_counter() - t0)
    extras["bm25_probe_seconds"] = round(runs[0], 3)
    extras_warm["bm25_probe_seconds"] = round(min(runs[1:]), 3)
    _shutil.rmtree(bm25_root, ignore_errors=True)

    # --- minhash-index steady-state ingest (same split as the bm25 probe) ---
    # minhash_incremental_seconds rebuilds the whole index lifecycle
    # (bootstrap + incremental + replay) per run; the number a continuous
    # pipeline pays is ONE batch ingested against an EXISTING index. Build
    # the index once outside the timed span, then time per-batch ingests
    # of fresh disjoint batches (each run uses new doc ids — a repeat
    # would be a replay no-op and measure nothing).
    from pyspark.sql import functions as _F

    from article_extraction_spark.operators.minhash_index import MaintainedMinHashIndex

    mh_root = f"{_tempfile.gettempdir()}/aes_mh_bench_{os.path.basename(os.path.normpath(sf_dir))}"
    _shutil.rmtree(mh_root, ignore_errors=True)
    mh_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    mh_idx = MaintainedMinHashIndex(mh_root, n_buckets=16)
    mh_idx.ingest(spark, mh_docs.where(_F.col("doc_id") < 200))["pairs"].unpersist()
    runs = []
    for it in range(4):
        batch = mh_docs.where(_F.col("doc_id") < 50).select(
            (_F.col("doc_id") + (it + 1) * 1_000_000).alias("doc_id"),
            _F.concat(_F.col("text"), _F.lit(f" edit {it}")).alias("text"),
        )
        t0 = time.perf_counter()
        st = mh_idx.ingest(spark, batch)
        st["pairs"].unpersist(blocking=False)
        runs.append(time.perf_counter() - t0)
    extras["minhash_ingest_batch_seconds"] = round(runs[0], 3)
    extras_warm["minhash_ingest_batch_seconds"] = round(min(runs[1:]), 3)
    _shutil.rmtree(mh_root, ignore_errors=True)

    # --- pure-codec micro-bench: JPEG entropy decode (VERDICT r3 #5) ---
    # The jpeg_decode query extra is Spark-fixture-overhead-dominated (12
    # tiny solid images), so the codec's own speed gets a driver-visible
    # number here: decode a fixed dense-AC fixture set (noise 4:2:0 +
    # 4:4:4, gradient with restart markers), min-of-3.
    import numpy as np

    from article_extraction_spark.functions.codecs import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(7)
    jpeg_fixtures = [
        encode_jpeg(rng.randint(0, 256, size=(128, 128, 3), dtype=np.uint8), quant=4, subsample="420"),
        encode_jpeg(rng.randint(0, 256, size=(128, 128, 3), dtype=np.uint8), quant=4),
        encode_jpeg(
            np.clip((np.add.outer(np.arange(256), np.arange(256))[:, :, None] % 256)
                    .repeat(3, 2), 0, 255).astype(np.uint8),
            quant=8, subsample="420", restart_interval=16,
        ),
    ]
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        for jp in jpeg_fixtures:
            decode_jpeg(jp)
        runs.append(time.perf_counter() - t0)
    extras["jpeg_entropy_decode_seconds"] = round(min(runs), 4)

    # --- warm_min5: noise-proof round-over-round signal (VERDICT r3) ---
    # By now the session is fully warm (codegen compiled, python workers
    # up, OS page cache hot), so a min-of-5 second pass isolates plan cost
    # from session/host startup — BENCH_r03 vs r02 was unreadable because
    # cold first-iteration numbers carried host contention. Judges compare
    # THIS block across rounds; the cold numbers above stay for continuity.
    # Per-query spread (max/min over the 5) is emitted so a noisy sample is
    # visible instead of silent.
    warm_min5: dict[str, float] = {}
    warm_spread: dict[str, float] = {}
    # operator queries first (clearCache between runs releases the
    # dedup family's internal persists) ...
    for name in list(timings):
        if name == "extract_transcripts":
            continue
        runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            _force(qs[name](spark, sf_dir))
            runs.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        warm_min5[name] = round(min(runs), 3)
        warm_spread[name] = round(max(runs) / min(runs), 2)
    # ... then the flagship LAST, with NO clearCache inside its loop:
    # clearCache would drop the persisted transcripts input, so runs
    # 2-5 would silently re-time corpus amplification instead of
    # extraction (review r4 — min-of-5 was really min-of-1)
    transcripts = transcripts.persist()
    transcripts.count()
    runs = []
    for _ in range(5):
        t0 = time.perf_counter()
        _force(convert_transcripts(transcripts))
        runs.append(time.perf_counter() - t0)
    warm_min5["extract_transcripts"] = round(min(runs), 3)
    warm_spread["extract_transcripts"] = round(max(runs) / min(runs), 2)
    transcripts.unpersist()
    extras["extract_turns_per_sec_warm"] = round(n_turns / warm_min5["extract_transcripts"], 1)

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "extras": extras,
        "extras_warm": extras_warm,
        "warm_min5": warm_min5,
        "warm_min5_total": round(sum(warm_min5.values()), 3),
        "warm_spread": warm_spread,
        "cpus": cpus,
    }
    # Full blob: an EARLY stdout line + a sidecar file. The driver captures
    # only the last ~2,000 chars of stdout (BENCH_r05 landed parsed:null when
    # the single line outgrew that window — VERDICT r5 #1), so the extras
    # live here and the FINAL printed line below stays compact.
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_full.json"), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full))
    # Compact headline line LAST — the driver's parse target. Headline
    # queries + warm_min5 + throughput only; must stay well under 2,000
    # chars (guarded by tests/test_bench_contract.py).
    compact = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "cpus": cpus,
        "warm_min5": warm_min5,
        "warm_min5_total": full["warm_min5_total"],
        "extract_turns_per_sec": extras.get("extract_turns_per_sec"),
        "extract_turns_per_sec_warm": extras.get("extract_turns_per_sec_warm"),
        "full": "BENCH_full.json",
    }
    line = json.dumps(compact)
    assert len(line) < 1800, f"compact bench line {len(line)} chars >= 1800"
    print(line)


if __name__ == "__main__":
    main()
