"""Regenerate PLANS.md: formatted physical plans for the key operators, with
the properties we designed for called out (run after plan-affecting changes;
tests/test_plans.py asserts the same properties mechanically)."""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from article_extraction_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"




def plan_str(df) -> str:
    # formatted explain via the public API
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(app_name="plans", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    sections: list[tuple[str, str, str]] = []

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") < "1996-01-01").select("l_orderkey", "l_quantity")
    sections.append(
        (
            "Filter pushdown + column pruning",
            "Filters reach the parquet scan (PushedFilters) and only referenced "
            "columns are read (ReadSchema) — SURVEY §4 'manual pruning' rows are "
            "free in Catalyst.",
            plan_str(q),
        )
    )

    from article_extraction_spark.operators import top_k

    sections.append(
        (
            "Global top-k",
            "orderBy+limit compiles to TakeOrderedAndProject: per-partition "
            "heaps, no global sort of 10^12 rows.",
            plan_str(top_k(spark.read.parquet(f"{SF}/orders.parquet").select("o_orderkey", "o_totalprice"), F.col("o_totalprice"), 10)),
        )
    )

    nation = spark.read.parquet(f"{SF}/nation.parquet")
    from article_extraction_spark.operators.joins import broadcast_dim_join

    j = broadcast_dim_join(
        li.select(F.col("l_suppkey").alias("n_nationkey"), "l_quantity"), nation, "n_nationkey"
    )
    sections.append(
        (
            "Dimension join",
            "BroadcastHashJoin — the fact side never shuffles for dim lookups (J5).",
            plan_str(j),
        )
    )

    from article_extraction_spark.pipeline.convert import convert_transcripts
    from article_extraction_spark.schemas import TRANSCRIPTS_SCHEMA

    t = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    sections.append(
        (
            "convert_to_txt pipeline",
            "One straight chain: ONE scan, one classify projection, the "
            "salted exchange of every row, then exactly ONE MapInArrow — the "
            "extraction stage — and no ArrowEvalPython or Union. The "
            "drop-empty filter reads a column the stage produces, so it stays "
            "above the stage.",
            plan_str(convert_transcripts(t)),
        )
    )

    from article_extraction_spark.operators.aggregates import cumulative_mean_distributed

    ev = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "value")
    cm = cumulative_mean_distributed(ev, "event_id", "value", num_partitions=4)
    sections.append(
        (
            "Distributed expanding mean",
            "Two-phase prefix sums: the only Window node is partitioned by the "
            "range-partition id (_pid) — every partition computes its running "
            "sum in parallel; the cross-partition offsets are a tiny broadcast "
            "map literal. No single-task global window (round-1 scale fix).",
            plan_str(cm),
        )
    )
    cm._retained_cache.unpersist()

    from article_extraction_spark.operators.dedup import embedding_near_duplicates

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(50)
    nd = embedding_near_duplicates(
        emb, "vec_id", "embedding", threshold=0.99, probe_hamming=1, eager=False
    )
    sections.append(
        (
            "Embedding near-dup with multiprobe",
            "Self-join ONLY on equal bucket keys (own bucket + exploded 1-bit "
            "neighbors on one side): a SortMergeJoin/ShuffledHashJoin on _bk, "
            "never a cartesian product; candidate space stays bucket-bounded "
            "at any corpus size.",
            plan_str(nd),
        )
    )

    from article_extraction_spark.operators.sessions import range_join

    ev2 = spark.read.parquet(f"{SF}/events.parquet").select("event_id", "ts")
    import datetime as dt

    wins = spark.createDataFrame(
        [(w, dt.datetime(2024, 1, 1) + dt.timedelta(hours=36 * w),
          dt.datetime(2024, 1, 1) + dt.timedelta(hours=36 * w + 10)) for w in range(5)],
        "win long, start timestamp, stop timestamp",
    )
    sections.append(
        (
            "Range join",
            "Interval join via time-bucket quantization: the join is an "
            "EQUI-join on the bucket key (right side exploded per bucket), "
            "never BroadcastNestedLoopJoin/CartesianProduct; the exact range "
            "predicate filters after the match.",
            plan_str(range_join(ev2, wins, "ts", "start", "stop")),
        )
    )

    import tempfile

    from article_extraction_spark.operators.similarity_search import (
        lsh_topk_bucketed,
        write_lsh_bucketed,
    )

    emb2 = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "embedding")
    qvec = [float(x) for x in emb2.first()["embedding"]]
    ann_path = tempfile.mkdtemp(prefix="plans-ann-") + "/t"
    write_lsh_bucketed(emb2, ann_path, "embedding", n_planes=6)
    sections.append(
        (
            "Bucketed ANN probe (round 3)",
            "The probe keys land on the PARTITION column of the "
            "write_lsh_bucketed layout: the scan node carries them as "
            "PartitionFilters, so only probed bucket= directories are listed "
            "and opened — query cost is O(corpus/2^planes × probes), "
            "independent of corpus size. Passing an explicit schema skips "
            "footer-sampling inference (zero data files touched at planning).",
            plan_str(
                lsh_topk_bucketed(
                    spark, ann_path, "embedding", qvec, k=5, n_planes=6,
                    schema="vec_id bigint, embedding array<float>",
                )
            ),
        )
    )

    from article_extraction_spark.operators.packing import concat_chunk_plan
    from article_extraction_spark.operators.textstats import token_count_col

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", token_count_col(F.col("text")).cast("long").alias("_n")
    )
    pk = concat_chunk_plan(docs, "_n", 512, order_col="doc_id", num_partitions=4)
    sections.append(
        (
            "Sequence packing (round 3)",
            "concat-and-chunk block planning: the only Window is partitioned "
            "by the range-partition id (two-phase prefix sum — no single-task "
            "global window); block fan-out is a native sequence+explode, fully "
            "codegen'd, no Python.",
            plan_str(pk),
        )
    )
    pk._retained_cache.unpersist()

    from article_extraction_spark.operators.sessions import asof_join

    left = spark.read.parquet(f"{SF}/events.parquet").select(
        F.lit("k").alias("k"), "ts", "event_id"
    )
    right = spark.read.parquet(f"{SF}/events.parquet").select(
        F.lit("k").alias("k"), "ts", F.col("value").alias("quote")
    ).limit(200)
    sk = asof_join(left, right, "k", "ts", skew_buckets=8)
    sections.append(
        (
            "As-of join, mega-key mode (round 3)",
            "Two-phase carry: the heavy window is partitioned by (key, "
            "time-bucket) — a hot key fans out 8-ways instead of one task; "
            "the cross-bucket prefix carry windows over 8 summary rows per "
            "key and joins back. No single-key-single-task window on the "
            "big input.",
            plan_str(sk),
        )
    )
    sk._retained_cache.unpersist()

    import tempfile

    from article_extraction_spark.operators.similarity_search import (
        ivf_topk,
        kmeans_fit,
        write_ivf,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = kmeans_fit(emb, "embedding", k=4, max_iter=2, seed=42)
    ivf_dir = tempfile.mkdtemp(prefix="plans_ivf_")
    write_ivf(emb.select("vec_id", "embedding"), ivf_dir, "embedding", cents)
    qv = [float(x) for x in emb.select("embedding").first()["embedding"]]
    iv = ivf_topk(
        spark, ivf_dir, "embedding", qv, cents, k=5, nprobe=1,
        schema="vec_id bigint, embedding array<float>",
    )
    sections.append(
        (
            "IVF ANN probe (round 4)",
            "Trained-centroid inverted-file layout: the nprobe filter lands "
            "on the `cluster` partition column, so the scan node carries it "
            "as PartitionFilters — non-probed clusters' files are never "
            "opened (planning-time pruning; corrupt-unprobed proof in "
            "test_plans.py). Explicit schema ⇒ zero data files touched at "
            "planning.",
            plan_str(iv),
        )
    )

    from article_extraction_spark.catalog import ManifestTable
    from article_extraction_spark.operators.zorder import zorder_clustered

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    z_table = ManifestTable(tempfile.mkdtemp(prefix="plans_zorder_"))
    z_table.overwrite(zorder_clustered(li, ["l_quantity", "l_extendedprice"], 8))
    zq = z_table.read_pruned(
        spark, {"l_quantity": (10.0, 20.0), "l_extendedprice": (20000.0, 40000.0)}
    )
    sections.append(
        (
            "Z-order box query (round 4)",
            "File-stats data skipping: the table is a ManifestTable written "
            "from zorder_clustered, and read_pruned has already cut the "
            "scan's file list to the files whose _stats.json min/max boxes "
            "intersect the predicate (driver-side, before planning); the "
            "residual box lands as PushedFilters — z-sorted files give "
            "parquet row-group stats real selectivity within each kept file.",
            plan_str(zq),
        )
    )

    from article_extraction_spark.operators.substring_dedup import duplicate_spans

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    ss = duplicate_spans(docs, k=40, winnow=8)
    sections.append(
        (
            "Substring dedup, winnowed (round 5)",
            "Span-level dedup never shuffles text: the position stream is "
            "(doc_id, pos, md5, xxhash64) only; winnowing is ONE window pass "
            "(min(struct) over forward frames — fp rides inside the struct, "
            "no join back) + distinct; duplicated fingerprints come from a "
            "groupBy(fp) joined back on fp; island merge is two per-doc "
            "windows + one aggregate. No CartesianProduct/BNLJ anywhere "
            "(asserted in test_substring_dedup.py).",
            plan_str(ss),
        )
    )

    from article_extraction_spark.operators.retrieval import bm25_search

    queries = spark.createDataFrame(
        [(1, "merge sort join"), (2, "spark filter customer")],
        "query_id long, qtext string",
    )
    bm = bm25_search(docs, queries, k=5)
    sections.append(
        (
            "BM25 top-k (round 5)",
            "Query time never shuffles the corpus: postings (with dl "
            "denormalized at build) are pruned by a BROADCAST of the query "
            "terms before the df count, the per-term df and one-row "
            "n/avgdl stats join back as broadcasts, and the only windows "
            "are per-query top-k. The single BroadcastNestedLoop is the "
            "deliberate one-row stats cross join (tfidf's pattern).",
            plan_str(bm),
        )
    )

    out = ["# PLANS — physical-plan evidence (generated by tools/dump_plans.py)\n"]
    for title, note, plan in sections:
        out.append(f"## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
