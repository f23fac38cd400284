"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship extraction pipeline on sf0.001.
queries()      — one entry per implemented operator (SURVEY.md §2 + the
                 training-data ops); each callable: (spark, sf_dir) → DataFrame.
oracle_sql()   — DuckDB-runnable ANSI SQL twins keyed identically. Since
                 round 3 EVERY query has a value oracle (non-SQL kernels
                 are oracled via planted fixtures or generating formulas;
                 enforced by tests/test_driver_contract.py).

Column names are aliased identically on both sides (driver hashes values
after sorting columns by name).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the driver may import this file by path (repo dir not on sys.path) —
# make the engine package importable regardless
_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from article_extraction_spark.pipeline import fan_out_small_scan  # noqa: E402
from article_extraction_spark.session import ship_package  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the driver builds its own session, which get_spark never saw
    ship_package(spark.sparkContext)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: documents → synthetic transcripts → convert_to_txt pipeline
    (classify → Arrow-batched extraction → drop-empty → stable order)."""
    from article_extraction_spark.fixtures import transcripts_from_documents
    from article_extraction_spark.pipeline import convert_transcripts, ordered_output

    ship_package(spark.sparkContext)
    t = transcripts_from_documents(spark, "/root/testdata/sf0.001", convs=50)
    return ordered_output(convert_transcripts(t))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_convert_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1 via the real pipeline extraction stage: deterministic HTML
    wrapping of documents rows, extracted back out; oracle reconstructs the
    expected text."""
    from article_extraction_spark.extract.udfs import extract_stage

    # r8: fan the single-split scan out — the Arrow extraction stage
    # otherwise runs in the scan's one task (see fan_out_small_scan)
    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text", "lang"))
    payload = F.concat(
        F.lit("<header>nav</header><p>"),
        F.col("text"),
        F.lit("</p>\n<p>lang: "),
        F.col("lang"),
        F.lit("</p><footer>x</footer>"),
    )
    res = extract_stage(
        docs.select("doc_id", F.lit("html").alias("doc_kind"), payload.alias("text"))
    ).select("doc_id", "extracted_text")
    return res.where(F.length("extracted_text") > 0)


def q_classify_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 analog: payload-kind sniffing over a deterministic html/txt/json
    mix keyed by doc_id % 3."""
    from article_extraction_spark.extract.udfs import classify_payload_col

    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    kind = F.col("doc_id") % 3
    payload = (
        F.when(kind == 0, F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")))
        .when(kind == 1, F.col("text"))
        .otherwise(F.concat(F.lit('{"t":"'), F.col("text"), F.lit('"}')))
    )
    return (
        docs.select(classify_payload_col(payload).alias("doc_kind"))
        .groupBy("doc_kind")
        .agg(F.count("*").alias("n"))
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/P3: customers with no orders (left_anti — the resume primitive)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q_left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: left equi-join + per-key counts (split ⟕ epoch analog).

    Pre-aggregate the fact side BEFORE the join: at 10^12 rows, join-then-
    group shuffles every fact row on the key; aggregate-then-join shuffles
    one row per key (same result, counts for order-less customers = 0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count("*").alias("_n")
    )
    return c.join(per_cust, "c_custkey", "left").select(
        "c_custkey", F.coalesce(F.col("_n"), F.lit(0)).alias("n_orders")
    )


def q_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: last-per-group via max_by struct (latest-year-per-country analog)."""
    from article_extraction_spark.operators import latest_per_group

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    latest = latest_per_group(o.select("o_custkey", "o_orderdate"), "o_custkey", "o_orderdate")
    return latest.select(
        "o_custkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_order_date")
    )


def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 + exact-dedup: distinct-content counting via content hash."""
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count("*").alias("n_total"),
        F.countDistinct(F.md5(F.col("text").cast("binary"))).alias("n_distinct"),
    )


def q_desc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: descriptive stats over l_quantity (integral doubles → exact)."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    return li.agg(
        F.count(q).alias("n"),
        F.round(F.avg(q), 6).alias("mean_qty"),
        F.median(q).alias("median_qty"),
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
    )


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: global top-k (TakeOrderedAndProject, no global sort)."""
    from article_extraction_spark.operators import top_k

    o = _t(spark, sf_dir, "orders")
    return top_k(o.select("o_orderkey", "o_totalprice"), F.col("o_totalprice"), 10)


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (engine-portable form): deterministic md5-rank split of customers;
    exact same assignment in any engine — the reproducible-split contract."""
    c = _t(spark, sf_dir, "customer")
    h = F.md5(F.col("c_custkey").cast("string").cast("binary"))
    split = (
        F.when(F.substring(h, 1, 2) < "0d", F.lit("train"))  # ~5%
        .when(F.substring(h, 1, 2) < "f3", F.lit("test"))  # ~90%
        .otherwise(F.lit("dev"))
    )
    return c.select(split.alias("split")).groupBy("split").agg(F.count("*").alias("n"))


def q_cumulative_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: expanding mean in event order — distributed two-phase prefix-sum
    formulation (no single-task global window; VERDICT r1 scale fix).

    Engine-portable math: floor to integer cents first so the running sum is
    exact — the distributed partial sums then add up to the identical
    integers the oracle's global window computes."""
    from article_extraction_spark.operators.aggregates import cumulative_mean_distributed

    e = _t(spark, sf_dir, "events").where(F.col("event_type") == "click")
    cents = e.select("event_id", F.floor(F.col("value") * 100).cast("long").alias("_cents"))
    out = cumulative_mean_distributed(cents, "event_id", "_cents", out_col="_cm")
    res = out.select("event_id", (F.floor(F.col("_cm") * 1e4) / 1e6).alias("cum_mean"))
    # keep the release handle alive through the projection (the driver
    # consumes the lazy result later; a caller that is done can unpersist)
    res._retained_cache = out._retained_cache
    return res


def q_union_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: unionByName (concat analog)."""
    r = _t(spark, sf_dir, "region").select(F.col("r_name").alias("name"))
    n = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("name"))
    return r.unionByName(n)


def q_parse_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: numeric-suffix parsing ('123k' → 123000.0)."""
    from article_extraction_spark.functions import parse_numeric_col

    # a small parquet is a single row-group = ONE task; spread the row-wise
    # regex work across cores (at production scale many files split naturally)
    # r8: project the 3 needed columns BEFORE the balancing exchange — the
    # former whole-row repartition shuffled all 16 lineitem columns
    # (~131 MB at sf1.0) to move 3 (guide §2.3)
    li = fan_out_small_scan(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    )
    raw = F.concat(F.col("l_quantity").cast("int").cast("string"), F.lit("k"))
    return li.select(
        "l_orderkey", "l_linenumber", parse_numeric_col(raw).alias("parsed_qty")
    )


def q_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F6: coerce-to-NULL year + boolean word-map."""
    from article_extraction_spark.functions import to_boolean_col, to_year_col

    o = _t(spark, sf_dir, "orders")
    flag_raw = F.when(F.col("o_orderkey") % 2 == 0, F.lit("Yes")).otherwise(F.lit("junk"))
    return o.select(
        "o_orderkey",
        to_year_col(F.date_format("o_orderdate", "yyyy-MM-dd")).cast("long").alias("order_year"),
        to_boolean_col(flag_raw).alias("flag"),
    )


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: alnum normalization of part types."""
    from article_extraction_spark.functions import normalize_alnum_col

    p = _t(spark, sf_dir, "part")
    return p.select("p_partkey", normalize_alnum_col(F.col("p_type")).alias("norm_type"))


def q_first_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: URL extraction + trailing-punct strip from free text."""
    from article_extraction_spark.functions import first_url_col

    s = _t(spark, sf_dir, "supplier")
    text = F.concat(
        F.lit("ref: https://example.org/doc/"),
        F.col("s_suppkey").cast("string"),
        F.lit(".pdf), then more text"),
    )
    return s.select("s_suppkey", first_url_col(text).alias("url"))


def q_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: levenshtein + normalized over nation×region names."""
    from article_extraction_spark.functions import levenshtein_normalized_col

    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    x = n.crossJoin(r)
    return x.select(
        "n_name",
        "r_name",
        F.levenshtein("n_name", "r_name").cast("long").alias("lev"),
        F.round(levenshtein_normalized_col(F.col("n_name"), F.col("r_name")), 6).alias("lev_norm"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: whitespace token counting per document."""
    from article_extraction_spark.operators.textstats import token_count_col

    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select("doc_id", token_count_col(F.col("text")).cast("long").alias("n_tokens"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: punct + stopword ratios (quality-score components)."""
    from article_extraction_spark.operators.textstats import punct_ratio_col, stopword_ratio_col

    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select(
        "doc_id",
        F.round(punct_ratio_col(F.col("text")), 6).alias("punct_ratio"),
        F.round(stopword_ratio_col(F.col("text"), ["the", "a", "and"]), 6).alias("stopword_ratio"),
    )


def q_lang_marker_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: language-ID marker-hit counts (argmax tested in pytest)."""
    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    words = F.split(F.lower(F.trim(F.col("text"))), r"\s+")

    def hits(markers: list[str]) -> F.Column:
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    return docs.select(
        "doc_id",
        hits(["the", "and", "of"]).cast("long").alias("en_hits"),
        hits(["el", "la", "de"]).cast("long").alias("es_hits"),
        hits(["der", "die", "und"]).cast("long").alias("de_hits"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: normalized md5 document fingerprint."""
    from article_extraction_spark.operators.textstats import fingerprint_col

    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select("doc_id", fingerprint_col(F.col("text")).alias("fp"))


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: exact brute-force cosine top-20 vs vec_id=0."""
    from article_extraction_spark.operators.similarity_search import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    # query lookup stays on the pruned scan; only the scoring side fans out
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    scored = fan_out_small_scan(emb.select("vec_id", "embedding"))
    top = brute_force_topk(scored, "embedding", list(query), k=20)
    return top.select("vec_id", F.round(F.col("cosine"), 5).alias("cosine_r"))


def q_fuzzy_country_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: fuzzy text→dim argmin join; noisy self-names must resolve to
    themselves via the containment rule (identity oracle)."""
    from article_extraction_spark.operators import fuzzy_match_country

    n = _t(spark, sf_dir, "nation")
    # zero-pad so no dim name is a substring of another (the containment
    # rule then matches each noisy name only to itself)
    padded = F.concat(F.lit("nation "), F.lpad(F.col("n_nationkey").cast("string"), 3, "0"))
    dim = n.select(F.col("n_nationkey").alias("id_country"), padded.alias("country"))
    noisy = n.select(
        "n_nationkey", F.concat(F.lit("  "), padded, F.lit("!! ")).alias("noisy")
    )
    return fuzzy_match_country(noisy, "noisy", dim).select("n_nationkey", "id_country")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload → mapInPandas feature extraction
    (hash + size are engine-portable; the fake feature vector is not output)."""
    docs = _t(spark, sf_dir, "documents")
    # r8: spread the single-split scan (the feature kernel ran in 1-2 scan
    # tasks) and use the zero-copy mapInArrow twin (parity-tested; hashes
    # memoryview slices of the Arrow buffer instead of per-row bytes)
    media = fan_out_small_scan(docs.select("doc_id", "text", "n_chars")).select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        (F.col("n_chars") % 10000).cast("int").alias("duration_ms"),
    )
    from article_extraction_spark.operators.multimodal import extract_media_features_arrow

    return extract_media_features_arrow(media).select(
        "media_id", "kind", "n_bytes", "content_hash"
    )


def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup: MinHash-LSH candidates + exact Jaccard verify on a corpus with
    planted near-duplicates (documents + their lightly-edited copies).

    Value-oracled: the DuckDB oracle computes ALL true pairs with n-gram
    Jaccard ≥ 0.6 via the relational (explode→join→count) formulation, so a
    hash match proves the banded LSH achieved recall 1.0 on this corpus AND
    the verify stage's intersection/union counts are exactly right.
    Counts are emitted as integers — no FP rounding across engines."""
    from article_extraction_spark.operators.dedup import minhash_dedup

    # doc_id < 500 (not .limit) so the oracle sees the identical subset at
    # every SF. bands=16/r=2: P(miss) ≈ 4e-4 for a borderline j=0.62 pair
    # (the corpus has stragglers at 0.62-0.77), so LSH recall is 1.0 with
    # margin; r=2 admits more low-j candidates but exact verify culls them.
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    edited = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail edit")).alias("text"),
    )
    # NOT spread (r8): corpus is capped at 1000 docs at every SF — measured
    # the extra balancing exchange costs more than the kernel saves
    corpus = docs.select("doc_id", "text").unionByName(edited)
    pairs = minhash_dedup(corpus, "doc_id", "text", threshold=0.6, num_hashes=32, bands=16)
    return pairs.select("id_a", "id_b", "n_common", "n_union")


def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup: SimHash blocking + hamming verify with planted exact copies.

    Value-oracled on recall: every planted copy (identical text → identical
    simhash → hamming 0) MUST be recovered through the 16-bit-prefix
    block join + hamming verify, so the expected planted-pair set is exactly
    every (doc_id, doc_id+1M, 0) — closed form in SQL. Near-dup (hamming 1-3)
    behavior is covered by pytest (planted single-bit perturbations)."""
    from article_extraction_spark.operators.dedup import simhash_near_duplicates

    # doc_id < 500: identical corpus at every SF (and bench-comparable to r1);
    # this synthetic vocab is pathologically self-similar, so the full sf0.1
    # table explodes block-candidate counts without testing anything new
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    copies = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    # NOT spread (r8): 1000-doc cap — same measurement as minhash_near_dups
    corpus = docs.select("doc_id", "text").unionByName(copies)
    pairs = simhash_near_duplicates(corpus, "doc_id", "text", max_hamming=3)
    return pairs.where(F.col("id_b") - F.col("id_a") == 1_000_000).select(
        "id_a", "id_b", "hamming"
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup: embedding-cosine near-dup via hyperplane LSH buckets on a
    corpus with planted exact-duplicate vectors.

    Value-oracled: at threshold 0.999 the ONLY qualifying pairs in this
    corpus are the planted copies (verified: no base pair reaches 0.999), and
    identical vectors always share an LSH bucket, so the full output is
    exactly (vec_id, vec_id+1M, cosine≈1.0) for every vector — closed form."""
    from article_extraction_spark.operators.dedup import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 1000)
    copies = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(copies)
    pairs = embedding_near_duplicates(corpus, "vec_id", "embedding", threshold=0.999)
    return pairs.select("id_a", "id_b", F.round("cosine", 5).alias("cosine_r"))


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: LSH-bucketed approximate top-k (multiprobe), with
    planted true-neighbors.

    Value-oracled on recall: 9 exact copies of the query vector are planted
    (ids 1M..1M+8). They bucket identically to the query, so the probe filter
    must keep them and top-10 must be exactly {query, 9 copies} at cosine 1.0
    — any bucketing/probing inconsistency between the query-side and
    data-side hashing breaks the hash match."""
    from article_extraction_spark.operators.similarity_search import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    planted = emb.where(F.col("vec_id") == 0).select(
        F.explode(F.sequence(F.lit(1_000_000), F.lit(1_000_008))).alias("vec_id"),
        "embedding",
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    top = lsh_topk(corpus, "embedding", list(query), k=10, probe_hamming=1)
    return top.select("vec_id", F.round(F.col("cosine"), 5).alias("cosine_r"))


def q_lsh_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB ANN storage path: write the corpus parquet PARTITIONED BY
    the hyperplane sign-key (write_lsh_bucketed), then probe via partition
    pruning (lsh_topk_bucketed — only probed bucket= dirs are opened;
    plan-audited in tests/test_plans.py). Same planted-copy recall oracle
    as lsh_topk: top-10 must be exactly {query, 9 copies} at cosine 1.0."""
    import os

    from article_extraction_spark.operators.similarity_search import (
        lsh_topk_bucketed,
        write_lsh_bucketed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    planted = emb.where(F.col("vec_id") == 0).select(
        F.explode(F.sequence(F.lit(1_000_000), F.lit(1_000_008))).alias("vec_id"),
        "embedding",
    )
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    path = f"/tmp/aes_ann_bucketed_{os.path.basename(os.path.normpath(sf_dir))}"
    write_lsh_bucketed(corpus, path, "embedding", n_planes=8, seed=42)
    top = lsh_topk_bucketed(
        spark, path, "embedding", list(query), k=10, probe_hamming=1,
        schema="vec_id bigint, embedding array<float>",
    )
    return top.select("vec_id", F.round(F.col("cosine"), 5).alias("cosine_r"))


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (round 4): DataFrame-native k-means centroids, table
    partitioned by nearest-centroid id (write_ivf), probe = partition
    pruning over the nprobe nearest clusters. The oracle probes ALL
    clusters (exhaustive ⇒ exactly the brute-force top-10, which DuckDB
    replicates); the nprobe<k recall + pruning proofs live in
    tests/test_training_ops.py."""
    import os

    from article_extraction_spark.operators.similarity_search import (
        ivf_topk,
        kmeans_fit,
        write_ivf,
    )

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.where(F.col("vec_id") == 0).select("embedding").first()["embedding"]
    # r8: the assignment/centroid kernels run above the scan — fan out
    emb_all = fan_out_small_scan(emb.select("vec_id", "embedding"))
    centroids = kmeans_fit(emb_all, "embedding", k=4, max_iter=3, seed=42)
    path = (
        f"/tmp/aes_ivf_{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}"
    )
    write_ivf(emb_all, path, "embedding", centroids)
    top = ivf_topk(
        spark, path, "embedding", list(query), centroids, k=10, nprobe=len(centroids),
        schema="vec_id bigint, embedding array<float>",
    )
    return top.select("vec_id", F.round(F.col("cosine"), 5).alias("cosine_r"))


def q_zorder_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional data skipping (round 4): lineitem written to a
    ManifestTable z-ordered on (l_quantity, l_extendedprice); a box read
    must return exactly the plain-filter rows (oracle) while touching
    only the files whose ``_stats.json`` min/max intersect the box — the
    `pruned_some` column bakes the skipping evidence into the hashed
    result, and the corrupt-unselected-files proof lives in
    tests/test_training_ops.py."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable
    from article_extraction_spark.operators.zorder import zorder_clustered

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    root = f"{tempfile.gettempdir()}/aes_zorder_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    t = ManifestTable(root)
    t.overwrite(zorder_clustered(li, ["l_quantity", "l_extendedprice"], 16))
    box = {"l_quantity": (10.0, 20.0), "l_extendedprice": (20000.0, 40000.0)}
    keep, total = t.prune_files(box)
    return t.read_pruned(spark, box).select(
        "l_orderkey",
        "l_linenumber",
        F.lit(bool(len(keep) < total)).alias("pruned_some"),
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time exact dedup vs a persistent fingerprint index
    (round 4): the index is preloaded with docs 0-99's fingerprints (a
    prior ingestion), the arriving batch is docs 50-199 plus a planted
    UPPERCASED copy of doc 150 (id 10150 — same normalized fingerprint,
    must lose the within-batch min-id race). Survivors = the batch minus
    index hits minus within-batch dups; the oracle replays the same
    relational dedup in DuckDB."""
    import os
    import shutil

    from article_extraction_spark.catalog import ManifestTable
    from article_extraction_spark.operators.dedup import incremental_exact_dedup
    from article_extraction_spark.operators.textstats import fingerprint_col

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    prior = docs.where(F.col("doc_id") < 100)
    batch = docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 200)).unionByName(
        docs.where(F.col("doc_id") == 150).select(
            F.lit(10150).alias("doc_id"), F.upper(F.col("text")).alias("text")
        )
    )
    root = f"/tmp/aes_dedup_idx_{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    index = ManifestTable(root)
    index.append(
        prior.select(
            fingerprint_col(F.col("text")).alias("fingerprint"),
            F.col("doc_id").alias("first_seen_id"),
        ).dropDuplicates(["fingerprint"])
    )
    fresh = incremental_exact_dedup(batch, "doc_id", "text", index, spark)
    # collect before unpersisting: after the second merge below, a lazy
    # recompute of `fresh` would anti-join against the UPDATED index and
    # return empty — and holding the persist instead leaks a cache per
    # gate run (review r4)
    rows = fresh.select("doc_id", "fingerprint").collect()
    fresh.unpersist()
    # re-running the SAME batch must now dedup to zero (exactly-once
    # proof folded into the oracle: the second call's count is a column)
    again = incremental_exact_dedup(batch, "doc_id", "text", index, spark)
    n_second = again.count()
    again.unpersist()
    out = spark.createDataFrame(rows, "doc_id long, fingerprint string")
    return out.withColumn("second_run_survivors", F.lit(n_second).cast("long"))


def q_grouped_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family breadth (round 4): per-group Pearson correlation and
    sample covariance — native JVM aggregates with map-side partials,
    one shuffle on the group key. Floored-micros cross-engine compare
    (both engines run the same sample formulas; summation-order noise is
    ~1e-13 against a 1e-6 grid)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.floor(F.corr("l_quantity", "l_extendedprice") * 1e6).cast("long").alias("corr_qty_price_u"),
        F.floor(F.covar_samp("l_quantity", "l_discount") * 1e6).cast("long").alias("covar_qty_disc_u"),
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (round 4): the ground-truth
    relation MinHash approximates, produced without all-pairs (distinct-
    shingle self-equi-join candidates + hash-set verify). Planted 'tail
    edit' copies like the minhash query; integer n_common/n_union dodge
    float rounding; the jaccard ≥ 0.6 cut happens identically on both
    engines from the same integers."""
    from article_extraction_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail edit")).alias("text"),
        )
    )
    pairs = ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.6)
    return pairs.select("id_a", "id_b", "n_common", "n_union")


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational TF-IDF (round 4): per-document top-3 terms by smoothed
    tf·idf over the shared alnum vocabulary; score cross-checked at
    floored-microunits (Spark HALF_UP vs DuckDB half-even dodge)."""
    from article_extraction_spark.operators.textstats import tfidf_top_terms

    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    top = tfidf_top_terms(docs, "doc_id", "text", k=3)
    return top.select(
        "doc_id",
        "term",
        "tf",
        F.floor(F.col("score") * 1e6).cast("long").alias("score_u"),
        "rnk",
    )


def q_char_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: char windowing with stride, fanned out via posexplode."""
    from article_extraction_spark.extraction.windows import explode_windows

    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return explode_windows(docs, "text", window=200, stride=100)


def q_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5: token windowing (worker-cached tokenizer). Value oracle: the
    SQL recomputes every 20-word window at stride 10 from the split
    text."""
    from article_extraction_spark.extraction.windows import explode_windows

    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return explode_windows(docs, "text", window=20, stride=10, by_chars=False)


_BPE_MERGES_CACHE: dict[str, list] = {}


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list:
    """Train-once-per-sf merge table shared by the bpe_* queries (the gate
    runs both; training twice would double the heaviest part)."""
    merges = _BPE_MERGES_CACHE.get(sf_dir)
    if merges is None:
        from article_extraction_spark.extraction.bpe import bpe_train

        docs = (
            _t(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 150)
            .select("text")
        )
        merges = bpe_train(docs, "text", n_merges=24, checkpoint_every=12)
        _BPE_MERGES_CACHE[sf_dir] = merges
    return merges


def q_bpe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE trained RELATIONALLY on the corpus (one pre-token
    count shuffle; per-merge-round native pair-count groupBy + fold —
    extraction/bpe.py), then encode+decode each document with the
    Arrow-batched kernels. Value oracle: decode(encode(text)) must equal
    text byte-for-byte (DuckDB returns the original text), the token
    count can never exceed the byte count (BPE starts at one symbol per
    byte and merges only shrink), and the merge table reached the full
    24 ranks (no early pair exhaustion)."""
    from article_extraction_spark.extraction.bpe import (
        bpe_decode_udf,
        bpe_encode_udf,
    )

    merges = _bpe_merges(spark, sf_dir)
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )
    out = docs.withColumn("ids", bpe_encode_udf(merges)(F.col("text")))
    return out.select(
        "doc_id",
        bpe_decode_udf(merges)(F.col("ids")).alias("decoded"),
        (F.size("ids") <= F.octet_length("text")).alias("tokens_le_bytes"),
        F.lit(len(merges)).alias("n_merges"),
    )


def q_bpe_token_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 windowing + sequence packing running on REAL BPE token ids
    (VERDICT r4 #1): encode doc_id<150 with the trained merges, window
    the id arrays natively (array_windows_col: 32-token windows, stride
    24), and pack the real token counts with concat_chunk_plan. The
    invariants are computed over the actual arrays and FOLDED into the
    hashed 1-row result (the incremental_dedup oracle pattern):

      * windows_ok        — every doc's windows reconstruct its exact id
                            sequence (first `stride` ids of each window +
                            the whole final window) AND the window count
                            matches the closed-form formula;
      * pack_blocks_full  — every non-final block sums to exactly 512;
      * pack_docs_covered — per-doc span sums equal the doc's token count;
      * pack_total_ok     — span grand total equals the corpus token total.
    """
    from article_extraction_spark.extraction.bpe import bpe_encode_udf
    from article_extraction_spark.extraction.windows import array_windows_col
    from article_extraction_spark.operators.packing import concat_chunk_plan

    from pyspark import StorageLevel

    merges = _bpe_merges(spark, sf_dir)
    W, S, BLOCK = 32, 24, 512
    docs = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )
    ids_df = (
        docs.withColumn("ids", bpe_encode_udf(merges)(F.col("text")))
        .select("doc_id", "ids", F.size("ids").cast("long").alias("_n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_docs = ids_df.count()

    wins = ids_df.withColumn("wins", array_windows_col(F.col("ids"), W, S))
    nw = F.size("wins")
    recon = F.concat(
        F.flatten(
            F.transform(
                F.slice("wins", F.lit(1), nw - 1), lambda w: F.slice(w, 1, S)
            )
        ),
        F.element_at("wins", -1),
    )
    expected_nw = F.when(F.col("_n") <= W, F.lit(1)).otherwise(
        F.lit(1)
        + F.ceil((F.col("_n") - F.lit(W)).cast("double") / F.lit(S)).cast("int")
    )
    wrow = wins.agg(
        F.bool_and((recon == F.col("ids")) & (nw == expected_nw)).alias("ok")
    ).collect()[0]

    plan = concat_chunk_plan(ids_df.select("doc_id", "_n"), "_n", BLOCK, "doc_id")
    plan = plan.persist(StorageLevel.MEMORY_AND_DISK)
    max_block = plan.agg(F.max("block_id")).collect()[0][0]
    blocks_full = plan.groupBy("block_id").agg(
        F.sum("n_tokens").alias("s")
    ).agg(
        F.bool_and(
            (F.col("s") == BLOCK) | (F.col("block_id") == F.lit(max_block))
        ).alias("ok")
    ).collect()[0]["ok"]
    per_doc = (
        ids_df.join(
            plan.groupBy("doc_id").agg(F.sum("n_tokens").alias("s")),
            "doc_id",
            "left",
        )
        .agg(F.bool_and(F.coalesce("s", F.lit(0)) == F.col("_n")).alias("ok"))
        .collect()[0]["ok"]
    )
    totals = plan.agg(F.sum("n_tokens")).collect()[0][0]
    grand = ids_df.agg(F.sum("_n")).collect()[0][0]
    plan._retained_cache.unpersist()
    plan.unpersist()
    ids_df.unpersist()
    return spark.createDataFrame(
        [
            (
                n_docs,
                bool(wrow["ok"]),
                bool(blocks_full),
                bool(per_doc),
                bool(totals == grand),
                len(merges),
            )
        ],
        "n_docs long, windows_ok boolean, pack_blocks_full boolean, "
        "pack_docs_covered boolean, pack_total_ok boolean, n_merges int",
    )


def q_extract_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7/E9: the regex extractor over planted key:value text, one Arrow
    pass for all fields, numeric coercion per reference (parse_numeric → int)."""
    from article_extraction_spark.extraction import extract_fields

    o = _t(spark, sf_dir, "orders")
    planted = F.concat(
        F.lit("model: M"), F.col("o_orderkey").cast("string"),
        F.lit(" parameters: "), (F.col("o_custkey") % 100).cast("string"), F.lit("k"),
        F.lit(" gpus: "), (F.col("o_orderkey") % 512 + 1).cast("string"),
        F.lit(" year: "), (F.lit(2000) + F.col("o_custkey") % 20).cast("string"),
        F.lit(" hardware: HW "), (F.col("o_orderkey") % 5).cast("string"), F.lit("."),
    )
    df = o.select("o_orderkey", planted.alias("text"))
    out = extract_fields(df, "text")
    return out.select(
        "o_orderkey",
        F.col("extracted.model").alias("model"),
        F.col("extracted.parameters").alias("parameters"),
        F.col("extracted.h_number").alias("h_number"),
        F.col("extracted.year").alias("year"),
        F.col("extracted.hardware_text").alias("hardware_text"),
    )


def q_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: Jaro-Winkler over nation×region names (DuckDB twin verified to
    agree with the textbook formulation)."""
    from article_extraction_spark.functions import jaro_winkler_udf

    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return n.crossJoin(r).select(
        "n_name", "r_name", F.round(jaro_winkler_udf("n_name", "r_name"), 6).alias("jw")
    )


def q_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: MERGE emulation as a plan — dest rows whose key is absent from
    src (left_anti) ∪ src (update-else-insert semantics)."""
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    src = c.where(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", (F.col("c_acctbal") * 2).alias("c_acctbal")
    )
    kept = c.join(src.select("c_custkey"), "c_custkey", "left_anti")
    return kept.unionByName(src)


def q_physics_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16: guarded physics derivations (hours → kWh → co2eq)."""
    from article_extraction_spark.extraction import complete_informations

    o = _t(spark, sf_dir, "orders")
    info = o.select(
        F.col("o_orderkey").alias("id_paper"),
        F.lit(None).cast("double").alias("training_time_hours"),
        (F.col("o_totalprice") * F.lit(1e15)).alias("training_compute"),
        F.lit(300.0).alias("h_compute"),
        F.lit(0.4).alias("h_power"),
        (F.col("o_orderkey") % 8 + 1).cast("int").alias("h_number"),
        (F.col("o_custkey") % 3).cast("int").alias("id_country"),
    )
    factors = spark.createDataFrame([(0, 415.0), (1, 50.0)], "id_country int, gco2_kwh double")
    out = complete_informations(info, factors)
    # discretize on a BINARY grid (×1024): DuckDB's optimizer reassociates
    # float multiply chains (measured 1-ulp drift vs left-assoc evaluation),
    # and these inputs produce exact DECIMAL rationals that sit exactly on
    # decimal grids — any ×10^k floor/round flips on that drift. Decimal
    # rationals are generically OFF the 1/1024 grid, so 1 ulp cannot flip
    # the floor.
    def tr(c: str):
        return F.floor(F.col(c) * 1024).cast("long")

    return out.select(
        "id_paper",
        tr("training_time_hours").alias("hours_b"),
        tr("energy_kwh").alias("kwh_b"),
        tr("co2eq").alias("co2_b"),
    )


def q_eval_char_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.3 eval job: char metrics + per-group summary over constructed
    prediction/gold pairs."""
    from article_extraction_spark.eval_metrics import char_metrics
    from article_extraction_spark.functions.textnorm import normalise_cell_col

    n = _t(spark, sf_dir, "nation")
    pairs = n.crossJoin(_t(spark, sf_dir, "region")).select(
        (F.col("n_nationkey") % 3).cast("int").alias("category"),
        F.col("n_name").alias("predicted"),
        F.col("r_name").alias("true"),
    )
    scored = char_metrics(pairs, "predicted", "true").withColumn(
        "exact",
        (normalise_cell_col(F.col("predicted")) == normalise_cell_col(F.col("true"))).cast("int"),
    )
    return scored.groupBy("category").agg(
        F.count("*").alias("n"),
        F.round(F.avg("levenshtein"), 6).alias("mean_lev"),
        F.round(F.avg("jaro_winkler"), 6).alias("mean_jw"),
        F.round(F.avg("exact"), 6).alias("exact_rate"),
    )


def q_encode_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E10: dedupe-before-encode embedding (memo cache as a join). Value
    oracle: one row per document with the fake encoder's dimension 16."""
    from article_extraction_spark.extraction import encode_texts_deduped

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    out = encode_texts_deduped(docs, "lang")
    return out.select("doc_id", F.size("embedding").alias("dim"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization (lag + conditional cumsum) + per-session stats."""
    from article_extraction_spark.operators.sessions import sessionize

    e = _t(spark, sf_dir, "events")
    s = sessionize(e, gap_minutes=30)
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the union-tag + last(ignoreNulls) window (one shuffle,
    no range explosion): each event gets the latest preceding signup value."""
    from article_extraction_spark.operators.sessions import asof_join

    e = _t(spark, sf_dir, "events")
    left = e.select("event_id", "user_id", "ts")
    right = e.where(F.col("event_type") == "signup").select("user_id", "ts", "value")
    out = asof_join(left, right, "user_id")
    return out.select("event_id", "user_id", F.round("value_asof", 6).alias("signup_value"))


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over lineitem flags (integral sums → exact)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (order year, priority)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(F.year("o_orderdate").alias("yr"), "o_orderpriority").rollup(
        "yr", "o_orderpriority"
    ).agg(F.count("*").alias("n"))


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot l_linestatus into columns per returnflag."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("long")))
        .withColumnsRenamed({"O": "qty_o", "F": "qty_f"})
    )


def q_gopher_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules (word count, mean word length, symbol and
    bullet ratios, stopword presence) — native expressions."""
    from article_extraction_spark.operators.textstats import gopher_flags_col

    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    g = gopher_flags_col(F.col("text"))
    return docs.select(
        "doc_id",
        g["word_count_ok"].alias("word_count_ok"),
        g["mean_word_len_ok"].alias("mean_word_len_ok"),
        g["symbol_ratio_ok"].alias("symbol_ratio_ok"),
        g["stopword_ok"].alias("stopword_ok"),
        g["passes"].alias("passes"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID: unicode-script hint + stopword markers (argmax)."""
    from article_extraction_spark.operators.textstats import lang_id_col

    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select("doc_id", lang_id_col(F.col("text")).alias("lang_guess"))


def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of a metric as data (reference scores.py renders histograms
    of distances; the engine emits the bucketed counts)."""
    e = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 10).cast("long")
    return e.groupBy(bucket.alias("bucket")).agg(F.count("*").alias("n"))


def q_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-window aggregation: hourly per-type event counts +
    exact cent sums."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: the SQL surface — same Catalyst plan as the DataFrame API
    (TPC-H-Q1-shaped aggregation via spark.sql over temp views)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS BIGINT) * 100 -
                        CAST(FLOOR(l_quantity * l_discount * 100) AS BIGINT)) AS BIGINT) AS disc_qty_cents
        FROM lineitem_v
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


def q_qa_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E8: QA span extraction (windows → spans → dedup → n_best).

    Value-oracled on a closed-form slice: documents containing EXACTLY ONE
    'table' token, one window (window ≥ text). The scorer's best span is then
    provably the width-3 token window around the hit (score 1/span_tokens is
    maximized by the smallest span), and the candidate set is the distinct
    width-3/7/31 windows — all expressible in SQL over the single-space
    token layout of the synthetic corpus. Multi-window striding stays covered
    by tests/test_qa.py."""
    from article_extraction_spark.extraction.qa import qa_extract

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    one_hit = docs.where(
        F.size(F.filter(F.split("text", " "), lambda w: w == F.lit("table"))) == 1
    )
    out = qa_extract(one_hit, "text", ["table"], window=1_000_000, stride=500_000)
    return out.select(
        "doc_id",
        F.col("qa.answer").alias("answer"),
        F.size("qa.candidates").alias("n_candidates"),
    ).where(F.length("answer") > 0)


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star readability scoring (text/link density, tag blocklist)
    through the one extraction stage, every page typed html. Value
    oracle: the SQL replays the block count and the main-content
    threshold from each document's text, the page's one scored block."""
    from article_extraction_spark.extract.udfs import extract_stage

    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    page = F.concat(
        F.lit("<html><body><nav><a href='/'>home</a> <a href='/x'>other</a></nav>"
              "<article><p>"),
        F.col("text"),
        F.lit("</p></article><footer>contact</footer></body></html>"),
    )
    out = extract_stage(
        docs.select("doc_id", F.lit("html").alias("doc_kind"), page.alias("text")),
        with_readability=True,
    )
    return out.select(
        "doc_id",
        F.col("readability_blocks").alias("n_blocks"),
        (F.col("readability_max_score") > 25).alias("has_main_content"),
    )


def _range_windows() -> list[tuple[int, str, str]]:
    """20 deterministic 10-hour windows over Jan 2024 — shared literals
    between the Spark query and its SQL oracle (no cross-engine timestamp
    arithmetic)."""
    import datetime as dt

    out = []
    for w in range(20):
        start = dt.datetime(2024, 1, 1) + dt.timedelta(hours=36 * w)
        end = start + dt.timedelta(hours=10)
        out.append((w, start.strftime("%Y-%m-%d %H:%M:%S"), end.strftime("%Y-%m-%d %H:%M:%S")))
    return out


def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped quantile bucketing: NTILE(4) within each event_type ordered
    by (value, event_id) — a per-group window, every partition parallel
    (never a global single-task window)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value"), F.col("event_id"))
    return e.select("event_id", "event_type", F.ntile(4).over(w).alias("quartile"))


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sliding-window mean over the last 5 events (ROWS BETWEEN 4
    PRECEDING AND CURRENT ROW), integer-cents math for engine portability."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-4, 0)
    ma = F.floor(F.sum(cents).over(w).cast("double") / F.count(cents).over(w) * 1e4) / 1e6
    return e.select("user_id", "event_id", ma.alias("moving_avg"))


def q_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median over integer cents (interpolated midpoint of
    two ints is FP-exact in both engines) + per-group count."""
    e = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    return (
        e.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(F.median("cents").alias("median_cents"), F.count("*").alias("n"))
    )


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters: MinHash near-dup pairs -> connected
    components (iterative min-label propagation). The oracle recomputes the
    TRUE pair set relationally and closes it with a recursive CTE, so a hash
    match certifies both LSH recall and the component labeling."""
    from article_extraction_spark.operators.dedup import connected_components, minhash_dedup

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    edited = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail edit")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(edited)
    pairs = minhash_dedup(corpus, "doc_id", "text", threshold=0.6, num_hashes=32, bands=16)
    comp = connected_components(pairs)
    pairs.unpersist()
    return comp


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join events->maintenance-windows via the bucketized range
    join (no cartesian product; exactly-once pair semantics)."""
    from article_extraction_spark.operators.sessions import range_join

    events = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    wins = spark.createDataFrame(_range_windows(), "win long, start_s string, end_s string").select(
        "win", F.col("start_s").cast("timestamp").alias("start"), F.col("end_s").cast("timestamp").alias("stop")
    )
    out = range_join(events, wins, "ts", "start", "stop", bucket_seconds=3600)
    return out.select("event_id", "win", "event_type")


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate clusters on a corpus with planted copies: NORMALIZED
    fingerprint groupBy -> groups with >1 member (one shuffle). The second
    copy set is UPPERCASED with trailing punctuation so the oracle match
    certifies the fingerprint normalization itself (ADVICE r2: with
    byte-identical copies the normalization was invisible to the oracle)."""
    from article_extraction_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").where(F.col("doc_id") < 500)
    copies = docs.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    shouty = docs.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.upper(F.col("text")), F.lit("!!!")).alias("text"),
    )
    corpus = docs.unionByName(copies).unionByName(shouty)
    # ids as one comma-joined string (already numerically sorted): a list
    # column cannot be hashed by a row-canonicalizing comparator
    return exact_duplicates(corpus, "doc_id", "text").select(
        "fingerprint",
        "n_dups",
        F.concat_ws(",", F.col("doc_ids").cast("array<string>")).alias("doc_ids"),
    )


def q_pack_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (GPT-style concat-and-chunk): lay documents end to
    end in doc_id order, cut into 512-token blocks, emit one row per
    (doc × block) span. The engine computes the global prefix sum with the
    two-phase distributed scan (no single-task global window); the oracle
    recomputes the layout with a window cumsum + generate_series explode."""
    from article_extraction_spark.operators.packing import concat_chunk_plan
    from article_extraction_spark.operators.textstats import token_count_col

    from pyspark import StorageLevel

    # r8: token counting over the full corpus fans out of the single-split
    # scan (see fan_out_small_scan) before the cheap int-only plan computation
    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text")).select(
        "doc_id", token_count_col(F.col("text")).cast("long").alias("_n")
    )
    plan = concat_chunk_plan(docs, "_n", 512, order_col="doc_id")
    # materialize the (small) plan table, then release the range-partitioned
    # input cache the operator retained — leaving it pinned would hold the
    # full documents projection for the rest of the gate session (review r3)
    # the oracle's window sum(n) is HUGEINT → pandas float64; surface the
    # offset/token columns as DOUBLE so the driver's dtype-sensitive hash
    # matches (VERDICT r7 #1 — values are exact ints, lossless in float64)
    out = plan.select(
        "doc_id",
        "block_id",
        F.col("doc_offset").cast("double").alias("doc_offset"),
        F.col("block_offset").cast("double").alias("block_offset"),
        F.col("n_tokens").cast("double").alias("n_tokens"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    plan._retained_cache.unpersist()
    return out


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter, fully relational: train an add-1
    bigram model on the doc_id<500 slice, score each doc by mean bigram
    log-probability. Scores are FLOORED (not rounded — Spark rounds HALF_UP
    while DuckDB rounds half-even) at 1e-4 quanta (coarse enough that
    cross-engine summation-order ULP noise cannot straddle a boundary)."""
    from article_extraction_spark.operators.textstats import bigram_lm_score

    from pyspark import StorageLevel

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").where(F.col("doc_id") < 500)
    scored = bigram_lm_score(docs, "doc_id", "text", round_digits=None)
    # floor at 1e-4 quanta: coarse enough that cross-engine ULP noise in the
    # avg's summation order (~1e-12) cannot straddle a boundary (review r3)
    out = scored.select(
        "doc_id",
        F.floor(F.col("lm_score") * 10_000).cast("long").alias("lm_score_q"),
        "n_bigrams",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    scored._retained_cache.unpersist()
    return out


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (CCNet/RefinedWeb): a banner line is
    planted into EVERY doc (doc frequency ~500 >> threshold) plus a rare
    two-doc line (at the threshold, kept); the op must strip exactly the
    banner while preserving remaining line order."""
    from article_extraction_spark.operators.textstats import remove_boilerplate_lines

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 500)
        .select(
            "doc_id",
            F.concat(
                F.lit("Subscribe to our newsletter!\n"),
                F.coalesce(F.col("text"), F.lit("")),
                F.when(F.col("doc_id") < 2, F.lit("\nrare footer line")).otherwise(F.lit("")),
            ).alias("text"),
        )
    )
    out = remove_boilerplate_lines(docs, "doc_id", "text", max_doc_freq=2)
    # n_lines_kept: oracle coalesce(sum(CASE…),0) is HUGEINT → pandas
    # float64; cast to match the driver's dtype-sensitive hash (VERDICT r7)
    return out.select(
        "doc_id", "text_clean", "n_lines", F.col("n_lines_kept").cast("double").alias("n_lines_kept")
    )


def q_answer_agg_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 answer aggregation (reference qa_squad._aggregate semantics) with
    a VALUE oracle for all three modes: best = argmax by (score, first-in-
    order), longest = argmax by (length, first-in-order), concat = non-empty
    answers joined in window order. Candidates derived deterministically
    from documents (prefix answer, modular score, doc_id order)."""
    from article_extraction_spark.operators.aggregates import aggregate_answers

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    # s = doc_id % 5 ⇒ DENSE score ties inside every ~13-doc group, so the
    # first-in-order tie-break is genuinely load-bearing in the oracle
    # match (a %97 score made ties vanishingly rare — vacuous coverage)
    base = docs.select(
        (F.col("doc_id") % 40).alias("g"),
        F.col("doc_id").alias("o"),
        F.substring(F.regexp_replace(F.coalesce(F.col("text"), F.lit("")), r"\s+", " "), 1, 30).alias("a"),
        (F.col("doc_id") % 5).cast("double").alias("s"),
    )
    outs = []
    for mode in ("best", "longest", "concat"):
        outs.append(
            aggregate_answers(base, "g", "a", "s", mode, order_col="o").select(
                F.lit(mode).alias("mode"), "g", "answer"
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_clean_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F5/F15 value oracle: _clean_value (strip, empty→NULL), comma-
    stripped numeric coercion, and W→kW with a 0 clip — over deterministic
    messy strings derived from orders (padded, comma-grouped, negative,
    junk)."""
    from article_extraction_spark.functions.casts import (
        clean_value_col,
        to_float_comma_col,
        to_int_comma_col,
    )
    from article_extraction_spark.functions.physics import watts_to_kilowatts_col

    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 2000)
    messy = orders.select(
        F.col("o_orderkey").alias("k"),
        # '  1,234,567  ' style for k%4==0; '' for 1; junk for 2; '-42' for 3
        F.when(F.col("o_orderkey") % 4 == 0,
               F.concat(F.lit("  "), F.format_number(F.col("o_orderkey") * 1000, 0), F.lit("  ")))
        .when(F.col("o_orderkey") % 4 == 1, F.lit(""))
        .when(F.col("o_orderkey") % 4 == 2, F.lit("n/a"))
        .otherwise(F.lit("-42")).alias("raw"),
        (F.col("o_totalprice") - 100000).alias("watts"),
    )
    return messy.select(
        "k",
        clean_value_col(F.col("raw")).alias("cleaned"),
        to_float_comma_col(F.col("raw")).alias("as_float"),
        to_int_comma_col(F.col("raw")).alias("as_int"),
        F.round(watts_to_kilowatts_col(F.col("watts")), 6).alias("kw_clipped"),
    )


def q_pdf_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF LAYOUT analysis (north rule: column detection, reading-order
    sort, header/footer removal), value-oracled: 20 deterministic two-page
    PDFs — page 1 is two-column positioned text, page 2 carries a running
    header/footer that must be stripped — go through the one extraction
    stage with pdf_mode="layout"; the oracle derives the expected
    reading-order text from the same id formula in pure SQL."""
    from article_extraction_spark.extract.udfs import extract_stage
    from article_extraction_spark.fixtures.synth import make_layout_pdf_bytes

    rows = []
    for i in range(20):
        pdf = make_layout_pdf_bytes(
            pages=[
                [[f"left {i} a", f"left {i} b"], [f"right {i} a"]],
                [[f"tail {i}"]],
            ],
            header="Conf Proc",
            footer="draft",
            compress=(i % 2 == 0),
        )
        rows.append((i, bytearray(pdf)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    return extract_stage(
        df.select("doc_id", F.lit("pdf").alias("doc_kind"), F.col("payload").alias("text")),
        pdf_mode="layout",
    ).select("doc_id", F.col("extracted_text").alias("text"))


def q_collapse_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc consecutive-duplicate-line collapse: every doc gets a
    stuttered banner prepended (3× the same line) plus a duplicated final
    line; the op must keep one of each run, preserving order. Oracle =
    lag-window replay in SQL."""
    from article_extraction_spark.operators.textstats import collapse_repeated_lines

    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.col("doc_id") < 500)
        .select(
            "doc_id",
            F.concat(
                F.lit("Menu\nMenu\nMenu\n"),
                F.coalesce(F.col("text"), F.lit("")),
                F.lit("\nfooter\nfooter"),
            ).alias("text"),
        )
    )
    out = collapse_repeated_lines(docs, "doc_id", "text")
    # n_collapsed: oracle sum(...) is HUGEINT → pandas float64; align the
    # representation (driver hash is dtype-sensitive; VERDICT r7 #1)
    return out.select(
        "doc_id", "text_clean", "n_lines", F.col("n_collapsed").cast("double").alias("n_collapsed")
    )


def q_canonical_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for dedup keys (scheme/host case, default
    ports, fragments, utm/fbclid/gclid params, trailing slash). Inputs are
    generated from a deterministic id formula; the oracle derives the
    expected canonical form from the SAME formula — any canonicalization
    drift breaks the hash match."""
    from article_extraction_spark.functions.urls import canonical_url_col

    kk = F.col("o_orderkey")
    k = kk.cast("string")
    raw = (
        F.when(kk % 5 == 0, F.concat(F.lit("HTTP://EX"), k, F.lit(".COM:80/P"), k, F.lit("/?utm_source=x&q="), k, F.lit("#frag")))
        .when(kk % 5 == 1, F.concat(F.lit("https://ex"), k, F.lit(".com:443/a")))
        .when(kk % 5 == 2, F.concat(F.lit("https://ex"), k, F.lit(".com/a?q="), k, F.lit("&fbclid=zz&r=2")))
        .when(kk % 5 == 3, F.concat(F.lit("ftp://ex"), k, F.lit(".com/x")))
        .otherwise(F.concat(F.lit("https://Ex"), k, F.lit(".com/")))
    )
    orders = _t(spark, sf_dir, "orders").where(kk <= 2000)
    return orders.select(
        kk.alias("k"), canonical_url_col(raw).alias("canon")
    )


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile in one aggregate pass over the exploded
    token stream: total/distinct tokens, hapax count, type-token ratio."""
    from article_extraction_spark.functions.textnorm import alnum_tokens_col

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    toks = docs.select(F.explode(alnum_tokens_col(F.col("text"))).alias("w"))
    per_word = toks.groupBy("w").agg(F.count("*").alias("n"))
    # the two sums surface as DOUBLE: DuckDB sum(BIGINT) → HUGEINT →
    # pandas float64 (driver hash is dtype-sensitive; VERDICT r7 #1)
    return per_word.agg(
        F.sum("n").cast("double").alias("total_tokens"),
        F.count("*").alias("distinct_tokens"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("double").alias("hapax_count"),
        # same op ORDER as the oracle's (count*1e6)/sum — a different
        # association could differ by one ulp and flip the floor
        F.floor(F.count("*") * F.lit(1_000_000.0) / F.sum("n")).cast("long").alias("ttr_micro"),
    )


def q_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT linear-interpolation quantiles (p25/p50/p75) per event type —
    Spark percentile vs DuckDB quantile_cont use the same formula; values
    floored at 1e-6 quanta for cross-engine float safety."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    q = F.percentile(F.col("value"), F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return ev.groupBy("event_type").agg(
        F.floor(q[0] * 1_000_000).cast("long").alias("p25_micro"),
        F.floor(q[1] * 1_000_000).cast("long").alias("p50_micro"),
        F.floor(q[2] * 1_000_000).cast("long").alias("p75_micro"),
    )


def q_window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/offset window breadth in one oracled query. TWO windows so
    the semantics are non-vacuous: ranking functions order by a COARSE key
    (price bucket) that has real ties — rank must gap, dense_rank must not,
    and tied rows share values (deterministic); offset functions use the
    unique composite order so lag/lead are row-deterministic."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 4000)
    bucket = F.floor(F.col("o_totalprice") / 50_000)
    w_rank = Window.partitionBy("o_custkey").orderBy(bucket.desc())
    w_off = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w_rank).alias("rnk"),
        F.dense_rank().over(w_rank).alias("drnk"),
        F.round(F.percent_rank().over(w_rank), 9).alias("prnk"),
        F.lag("o_orderkey").over(w_off).alias("prev_key"),
        F.lead("o_orderkey").over(w_off).alias("next_key"),
    )


def q_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/S9/S11 value-oracled as ROUND TRIPS: full-replace parquet, then
    two appends, then a header CSV write + explicit-schema read-back (S4) —
    the returned rows come from re-READING every sink, so format or schema
    drift in any leg breaks the hash match. The oracle recomputes the
    expected union relationally (never touches the files)."""
    import os
    import shutil
    import tempfile

    from article_extraction_spark.sinks import append, create_or_replace, write_csv_metrics

    base = tempfile.gettempdir()
    root = os.path.join(base, f"aes_sinks_{os.path.basename(os.path.normpath(sf_dir))}")
    shutil.rmtree(root, ignore_errors=True)
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")

    pq = os.path.join(root, "pq")
    create_or_replace(nation.where(F.col("n_nationkey") < 10), pq)   # S8
    append(nation.where(F.col("n_nationkey") >= 10), pq)             # S9
    append(nation.where(F.col("n_nationkey") < 3), pq)               # S9 again
    pq_back = spark.read.parquet(pq).select(
        F.lit("parquet").alias("sink"), "n_nationkey", "n_name", "n_regionkey"
    )

    csv = os.path.join(root, "csv")
    write_csv_metrics(nation, csv)                                   # S11
    csv_back = (
        spark.read.schema("n_nationkey long, n_name string, n_regionkey long")
        .option("header", True)
        .csv(csv)                                                    # S4 scan
        .select(F.lit("csv").alias("sink"), "n_nationkey", "n_name", "n_regionkey")
    )
    return pq_back.unionByName(csv_back)


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG decode through the media pipeline, value-oracled:
    solid-color JPEGs decode EXACTLY (DC-only blocks), so per-channel means
    are knowable from the generating formula; a junk row must surface a
    decode_error, not fail the task."""
    from article_extraction_spark.functions.codecs import encode_jpeg
    from article_extraction_spark.operators.multimodal import image_pixel_features

    import numpy as np

    rows = []
    for i in range(12):
        r, g, b = (i * 20) % 256, (i * 45 + 10) % 256, (i * 70 + 5) % 256
        img = np.zeros((16, 16, 3), dtype=np.uint8)
        img[:, :] = (r, g, b)
        rows.append((i, "image", bytearray(encode_jpeg(img)), "image/jpeg", None, None, None))
    rows.append((99, "image", bytearray(b"\xff\xd8 junk"), "image/jpeg", None, None, None))
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    out = image_pixel_features(media)
    return out.select(
        "media_id",
        F.round(F.element_at("channel_mean", 1), 9).alias("mean_r"),
        F.round(F.element_at("channel_mean", 2), 9).alias("mean_g"),
        F.round(F.element_at("channel_mean", 3), 9).alias("mean_b"),
        F.col("decode_error").isNotNull().alias("failed"),
    )


def q_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive-JPEG (SOF2) decode through the media pipeline (round 5
    — VERDICT r4 #5): spectral-selection + successive-approximation
    streams from the progressive encoder twin, decoded by the stdlib
    T.81 §G decoder inside image_pixel_features. Solid colors are
    DC-exact, so per-channel means are knowable from the generating
    formula; rows alternate restart intervals and band splits (different
    scan scripts must not change the pixels), a grayscale row checks the
    non-interleaved single-component path, and an arithmetic-coded SOF
    must surface decode_error, not fail the task."""
    from article_extraction_spark.functions.codecs import encode_jpeg_progressive
    from article_extraction_spark.operators.multimodal import image_pixel_features

    import numpy as np

    rows = []
    for i in range(10):
        r, g, b = (i * 31) % 256, (i * 57 + 20) % 256, (i * 83 + 7) % 256
        img = np.zeros((16, 16, 3), dtype=np.uint8)
        img[:, :] = (r, g, b)
        enc = encode_jpeg_progressive(
            img, restart_interval=(2 if i % 2 else 0), band_split=(2 if i % 3 == 0 else 6)
        )
        rows.append((i, "image", bytearray(enc), "image/jpeg", None, None, None))
    gray = np.full((16, 16), 77, dtype=np.uint8)
    rows.append(
        (50, "image", bytearray(encode_jpeg_progressive(gray)), "image/jpeg", None, None, None)
    )
    # SOF12 (arithmetic progressive) is out of scope for BOTH backends here
    bad = encode_jpeg_progressive(np.zeros((8, 8, 3), dtype=np.uint8)).replace(
        b"\xff\xc2", b"\xff\xca", 1
    )
    rows.append((99, "image", bytearray(bad), "image/jpeg", None, None, None))
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    out = image_pixel_features(media)
    return out.select(
        "media_id",
        F.round(F.element_at("channel_mean", 1), 9).alias("mean_r"),
        F.round(F.element_at("channel_mean", 2), 9).alias("mean_g"),
        F.round(F.element_at("channel_mean", 3), 9).alias("mean_b"),
        F.col("decode_error").isNotNull().alias("failed"),
    )


def _substring_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents plus 50 planted rows each embedding the 150-char prefix
    of a base doc — deterministic, replayed identically in DuckDB, so
    cross-document ≥k-char repeats exist by construction (natural repeats
    in the synthetic text count too: both engines compute the same
    definition, so they agree on those as well)."""
    # NOT spread (r8): A/B-measured — the per-position fingerprint shuffle
    # dominates these operators, and the balancing exchange only added cost
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    plant = docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.lit("PLANT-"),
            F.col("doc_id").cast("string"),
            F.lit(" >> "),
            F.substring("text", 1, 150),
            F.lit(" << END"),
        ).alias("text"),
    )
    return docs.unionByName(plant)


def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (round 5; Lee et al. 2021): maximal merged
    spans of ≥40-char repeated passages over documents + planted
    contaminated rows — rolling md5 fingerprints, occurrence counts, and
    window-function island merge, all native expressions. DuckDB replays
    the identical algorithm (generate_series + substr + the same island
    windows)."""
    from article_extraction_spark.operators.substring_dedup import duplicate_spans

    spans = duplicate_spans(_substring_corpus(spark, sf_dir), k=40, min_count=2, scope="global")
    return spans.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_len").cast("long").alias("span_len"),
    )


def q_substring_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip duplicated spans keeping each repeat's FIRST occurrence
    under (doc_id, pos) order — the cleaned text itself is value-hashed,
    so the rebuild (aggregate() fold over the merged spans) must agree
    byte-for-byte with DuckDB's string_agg reconstruction."""
    from article_extraction_spark.operators.substring_dedup import strip_duplicate_spans

    out = strip_duplicate_spans(_substring_corpus(spark, sf_dir), k=40)
    return out.select(
        "doc_id", "cleaned_text", F.col("removed_chars").cast("long").alias("removed_chars")
    )


def q_mor_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read equality deletes (round 5, Iceberg v2 pattern):
    append docs 0-99 → DELETE ids 10-19 (no data file rewritten — the
    flag is hashed into every row) → append docs 100-149 plus a
    re-insert of doc 15 (the delete must not cover new files) → compact
    (materializes: the new manifest carries no delete entries and reads
    identically) → head read. Time travel to the pre-delete snapshot
    still sees all 100 rows. DuckDB replays the surviving row set
    relationally."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable

    root = f"{tempfile.gettempdir()}/aes_mordel_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = ManifestTable(root)
    v1 = t.append(docs.where(F.col("doc_id") < 100))
    files_v1 = t._load(v1)["files"]
    v2 = t.delete(
        spark, docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)), ["doc_id"]
    )
    no_rewrite = t._load(v2)["files"] == files_v1
    reinsert = spark.createDataFrame([(15, "REINSERTED-15")], "doc_id long, text string")
    t.append(
        docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)).unionByName(reinsert)
    )
    pre_rows = t.read(spark).count()
    vc = t.compact(spark, target_bytes=1 << 30)
    materialized = "deletes" not in t._load(vc) and t.read(spark).count() == pre_rows
    travel_ok = t.read(spark, snapshot_id=v1).count() == 100
    ok = bool(no_rewrite and materialized and travel_ok)
    return t.read(spark).select("doc_id", "text", F.lit(ok).alias("invariants_ok"))


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (round 6;
    Efraimidis & Spirakis 2006): per-lang top-50 documents under weight
    1+len(text), ranked by ln(u)/w with u from 60 md5 bits — one ln and
    one exact division, so DuckDB replays the exact selection AND ranks
    (the monotone-transform trick keeps pow out of the rank key)."""
    from article_extraction_spark.operators.split import weighted_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", (F.lit(1.0) + F.length("text")).alias("__w")
    )
    out = weighted_sample(docs, "doc_id", "__w", k=50, group_cols=["lang"])
    return out.select("doc_id", "lang", "sample_rank")


def q_cm_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch (round 6; Cormode & Muthukrishnan
    2005): d=4 × w=512 cells over orders.o_custkey, then the estimate
    for every distinct customer. w is deliberately smaller than the key
    domain so buckets COLLIDE — the oracle replays the sketch arithmetic
    (same md5 buckets, same min-over-rows), not the exact counts, which
    is what proves the implementation."""
    from article_extraction_spark.operators.sketches import cm_build, cm_estimate

    orders = _t(spark, sf_dir, "orders")
    cells = cm_build(orders, "o_custkey", d=4, w=512)
    return cm_estimate(cells, orders, "o_custkey", d=4, w=512).select(
        F.col("o_custkey").cast("long").alias("o_custkey"), "est"
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct customers per order priority (round 6;
    Flajolet et al. 2007): b=8 (256 registers), rho from 60 md5 bits via
    pure string arithmetic, denominator summed as 2^(48-rho) BIGINTs so
    aggregation order cannot move the estimate, α·m²·2^48 shipped as ONE
    shared double literal. DuckDB replays registers, quantized sum,
    linear-counting branch and the floored-micros estimate exactly."""
    from article_extraction_spark.operators.sketches import hll_estimate, hll_registers

    orders = _t(spark, sf_dir, "orders")
    regs = hll_registers(orders, "o_custkey", b=8, group_cols=["o_orderpriority"])
    return hll_estimate(regs, b=8).select(
        "o_orderpriority", "est_micro", "used_linear_counting"
    )


def q_positional_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-v2 POSITIONAL deletes (round 6): two sorted commits —
    all documents, plus a full duplicate of doc_id<20 — then one MoR
    positional delete of the ODD-position rows among doc_id<20 in each
    file, targeting exact physical copies (inexpressible as an equality
    delete). No data file is rewritten (flag hashed into every row).
    Files are written coalesce(1) + sortWithinPartitions(doc_id), so
    row ordinals are the doc_id rank — which is how DuckDB replays the
    deleted positions (row_number over the same sort)."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable

    root = f"{tempfile.gettempdir()}/aes_posdel_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    t = ManifestTable(root)
    t.append(docs.coalesce(1).sortWithinPartitions("doc_id"))
    t.append(docs.where(F.col("doc_id") < 20).coalesce(1).sortWithinPartitions("doc_id"))
    files_before = t._load(t.current_snapshot_id())["files"]
    v = t.delete_positions_where(
        spark, "doc_id < 20 and _metadata.row_index % 2 = 1"
    )
    no_rewrite = t._load(v)["files"] == files_before
    return t.read(spark).select(
        "doc_id", "lang", F.lit(bool(no_rewrite)).alias("no_rewrite")
    )


def q_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write UPDATE (round 6, the Delta/Iceberg UPDATE shape):
    documents in three range commits, one UPDATE hits only the middle
    range — exactly the untouched files carry by reference (flag hashed
    into every row), matches get the SET, file-mates survive. DuckDB
    replays the row results as a CASE projection."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable

    root = f"{tempfile.gettempdir()}/aes_updw_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    t = ManifestTable(root)
    for lo, hi in ((0, 100), (100, 200), (200, 10**9)):
        t.append(docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(1))
    files_before = t._load(t.current_snapshot_id())["files"]
    v = t.update_where(spark, "doc_id between 120 and 180", {"lang": "'xx'"})
    carried = sum(1 for f in files_before if f in t._load(v)["files"])
    return t.read(spark).select(
        "doc_id", "lang", F.lit(carried == 2).alias("untouched_carried")
    )


def q_bloom_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file key blooms (round 6, the Iceberg-puffin/parquet-bloom
    analog): documents land as four UNSORTED commits (doc_id mod 4 — every
    file spans the whole key range, so min/max stats cannot prune a point
    probe), a maintenance pass stores one bloom per (file, doc_id), and a
    point read opens only bloom-accepting files. DuckDB replays the FULL
    bloom membership — per-slice m/k sizing, every key's md5 positions,
    coverage of all probe positions — so the scanned-file count in the
    hashed result is cross-engine derived, not trusted."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable

    root = f"{tempfile.gettempdir()}/aes_bloompt_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    t = ManifestTable(root)
    for r in range(4):
        t.append(docs.where(F.col("doc_id") % 4 == r).coalesce(1))
    t.build_file_blooms(spark, ["doc_id"], bits_per_key=10)
    keep, total = t.prune_files({"doc_id": (137, 137)})
    out = t.read_pruned(spark, {"doc_id": (137, 137)})
    return out.select(
        "doc_id",
        "lang",
        F.lit(len(keep)).cast("long").alias("n_files_scanned"),
        F.lit(total).cast("long").alias("n_files_total"),
    )


def q_cm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained count-min (round 6): orders ingested in
    two appends, cell counts folded by an IncrementalRollup whose
    prepare hook is the 1→N cell explode — refresh 1 full, refresh 2
    CDC-incremental over the new rows only. Estimates for every distinct
    customer from the MAINTAINED cells; DuckDB replays the sketch over
    the union plus the refresh-mode sequence."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable
    from article_extraction_spark.operators.sketches import cm_estimate, maintained_cm

    root = f"{tempfile.gettempdir()}/aes_cminc_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    src = ManifestTable(f"{root}/src")
    cells = ManifestTable(f"{root}/cells")
    mc = maintained_cm(src, cells, "o_custkey", d=4, w=512)
    src.append(orders.where(F.col("o_custkey") % 2 == 0))
    m1 = mc.refresh(spark)["mode"]
    src.append(orders.where(F.col("o_custkey") % 2 == 1))
    m2 = mc.refresh(spark)["mode"]
    est = cm_estimate(
        cells.read(spark).select("i", "bucket", "cnt"), orders, "o_custkey", d=4, w=512
    )
    return est.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        "est",
        F.lit(f"{m1},{m2}").alias("refresh_modes"),
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank (round 6; Page et al. 1999) over the bipartite
    supplier→part lineitem graph, 3 rounds at damping 0.85. The recurrence
    is defined entirely in integer units (scale 1e9) — floor-per-edge
    contributions, floor dangling share — so sums are associative-exact
    and DuckDB replays all three iterations to bit-identical ranks."""
    from article_extraction_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem").select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    return pagerank(li, n_iter=3)


def q_hll_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained HLL (round 6): per-lang distinct doc_id
    registers kept fresh under append-only ingest by an IncrementalRollup
    whose prepare hook computes (register, rho) per row — refresh 1 is a
    full build, refresh 2 folds ONLY the second append's rows (CDC
    delta). The observed refresh-mode sequence rides in the hashed
    result; DuckDB replays the final register table and estimate over
    the union of both appends."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable
    from article_extraction_spark.operators.sketches import hll_estimate, maintained_hll

    root = f"{tempfile.gettempdir()}/aes_hllinc_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    src = ManifestTable(f"{root}/src")
    regs = ManifestTable(f"{root}/regs")
    mh = maintained_hll(src, regs, "doc_id", b=8, group_cols=["lang"])
    src.append(docs.where(F.col("doc_id") < 250))
    m1 = mh.refresh(spark)["mode"]
    src.append(docs.where((F.col("doc_id") >= 250) & (F.col("doc_id") < 500)))
    m2 = mh.refresh(spark)["mode"]
    out = hll_estimate(regs.read(spark).select("lang", "register", "max_rho"), b=8)
    return out.select(
        "lang",
        "est_micro",
        "used_linear_counting",
        F.lit(f"{m1},{m2}").alias("refresh_modes"),
    )


def q_bloom_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter anti-join (round 6): orders not placed by the build
    set of customers (c_custkey ≡ 0 mod 7). k xxhash64 bit positions per
    key, bit_or-aggregated bitmap, bloom-negative rows pass join-free and
    bloom-positives get exact left_anti confirmation — so the result is
    EXACTLY the anti-join, which is what DuckDB replays (the bloom
    internals provably cannot change the row set; no-false-negative and
    fp-rate behavior are pinned in tests/test_bloom.py)."""
    from article_extraction_spark.operators.bloom import bloom_anti_join

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    build = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 7 == 0)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return bloom_anti_join(orders, build, ["o_custkey"]).select(
        "o_orderkey", "o_custkey"
    )


def q_stats_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest file-stats data skipping (round 6, the Iceberg scan-
    planning path): orders lands in a ManifestTable as four contiguous
    o_orderkey quartile commits (one file each), then a key-range box
    read plans driver-side from the per-commit ``_stats.json`` min/max
    — only intersecting files are opened. The scanned/total file counts
    ride IN the hashed result (r4 trick), and DuckDB replays them from
    the same quartile slice stats relationally; the row set must equal
    the plain filtered read."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from article_extraction_spark.catalog import ManifestTable

    root = f"{tempfile.gettempdir()}/aes_statspr_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    sliced = orders.withColumn(
        "slice", F.ntile(4).over(Window.orderBy("o_orderkey"))
    )
    t = ManifestTable(root)
    for s in (1, 2, 3, 4):
        t.append(sliced.where(F.col("slice") == s).drop("slice").coalesce(1))
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0]
    lo, hi = int(0.30 * mx), int(0.45 * mx)
    keep, total = t.prune_files({"o_orderkey": (lo, hi)})
    out = t.read_pruned(spark, {"o_orderkey": (lo, hi)})
    return out.select(
        "o_orderkey",
        "o_totalprice",
        F.lit(len(keep)).cast("long").alias("n_files_scanned"),
        F.lit(total).cast("long").alias("n_files_total"),
    )


def q_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-aware inference batching (round 5): documents bucketed to
    power-of-two length caps, each bucket cut into batches whose padded
    cost (rows × cap) fits a 2048-token budget — deterministic
    row_number assignment, DuckDB replays the same integer arithmetic
    (log2 is exact on powers of two in BOTH engines — verified)."""
    from article_extraction_spark.operators.packing import length_bucketed_batches

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("n_tokens")
    )
    out = length_bucketed_batches(docs, "n_tokens", 2048, order_col="doc_id")
    return out.select("doc_id", "n_tokens", "bucket_cap", "batch_id", "slot", "padded_len")


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (round 5, Jégou et al. 2011): m=4 subspaces,
    4 pinned codebook entries per subspace (the first four embeddings'
    slices — data-derived, so DuckDB can re-derive them), codes by
    per-subspace nearest centroid, ADC against vec 0 as the query with a
    fixed j-ordered fold. The oracle replays assignment (rank by
    (dist, c), matching array_position's first-min tie rule) and the
    same addition order, floored to micros — full cross-engine replay,
    no literals shipped."""
    from article_extraction_spark.operators.similarity_search import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    cb_rows = emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    books = [
        [[float(x) for x in r["embedding"][j * 16 : (j + 1) * 16]] for r in cb_rows]
        for j in range(4)
    ]
    query = [float(x) for x in cb_rows[0]["embedding"]]
    out = pq_adc_topk(emb, "vec_id", "embedding", query, books, k=1_000_000)
    return out.select(
        "vec_id",
        F.element_at("codes", 1).alias("c0"),
        F.element_at("codes", 2).alias("c1"),
        F.element_at("codes", 3).alias("c2"),
        F.element_at("codes", 4).alias("c3"),
        F.floor(F.col("adc") * 1e6).cast("long").alias("adc_micro"),
    )


def q_pq_residual_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVFADC (round 6, Jégou et al. 2011 §III): the codes
    quantize ``x − coarse_centroid(x)`` instead of the raw vector, so
    codebook entropy is spent on fine structure (VERDICT r5 #4). Two
    pinned coarse centroids (embeddings 0–1), four pinned residual
    codebook entries per subspace (the RESIDUALS of embeddings 2–5 —
    data-derived, so DuckDB re-derives both the assignment and the
    subtraction), ADC against embedding 7 with per-cluster residual
    query LUTs in the fixed j-ordered fold. Full cross-engine replay:
    the oracle replays coarse argmin (rank by (dist, c) = the
    array_position first-min tie rule), the centroid subtraction, code
    assignment on residuals, and the same addition order, floored to
    micros."""
    from article_extraction_spark.operators.similarity_search import (
        ivfadc_score_col,
        nearest_centroid_col,
        pq_code_col,
    )

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    head = emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    coarse = [[float(x) for x in head[i]["embedding"]] for i in range(2)]

    def _resid(vec: list[float]) -> list[float]:
        d = [(sum((a - b) ** 2 for a, b in zip(vec, c)), i) for i, c in enumerate(coarse)]
        c = coarse[min(d)[1]]
        return [a - b for a, b in zip(vec, c)]

    books = [
        [_resid([float(x) for x in head[r]["embedding"]])[j * 16 : (j + 1) * 16] for r in range(2, 6)]
        for j in range(4)
    ]
    query = [float(x) for x in head[7]["embedding"]]
    staged = emb.select(
        "vec_id", "embedding", nearest_centroid_col("embedding", coarse).alias("cluster")
    )
    coded = staged.select(
        "vec_id",
        "cluster",
        pq_code_col(
            "embedding", books, coarse_centroids=coarse, cluster_col="cluster"
        ).alias("codes"),
    )
    return coded.select(
        "vec_id",
        "cluster",
        F.element_at("codes", 1).alias("c0"),
        F.element_at("codes", 2).alias("c1"),
        F.element_at("codes", 3).alias("c2"),
        F.element_at("codes", 4).alias("c3"),
        F.floor(
            ivfadc_score_col("codes", "cluster", query, coarse, books) * 1e6
        ).cast("long").alias("adc_micro"),
    )


def q_ivfadc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R (round 7, Jégou §IV): the ADC top-30 of the probed coarse
    cell re-ranks by EXACT squared L2 over the raw vectors, returning the
    true top-10 of the candidate set with the (dist, id) tie rule. Same
    pinned fixture as pq_residual_codes (coarse = embeddings 0-1,
    residual codebooks from embeddings 2-5, query = embedding 7),
    nprobe=1. DuckDB replays coarse assignment, residual codes, the ADC
    candidate cut AND the exact re-rank in the same fold order."""
    import shutil
    import tempfile

    from article_extraction_spark.operators.similarity_search import (
        ivfadc_rerank_topk,
        nearest_centroid_col,
        pq_code_col,
    )

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    head = emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    coarse = [[float(x) for x in head[i]["embedding"]] for i in range(2)]

    def _resid(vec: list[float]) -> list[float]:
        d = [(sum((a - b) ** 2 for a, b in zip(vec, c)), i) for i, c in enumerate(coarse)]
        c = coarse[min(d)[1]]
        return [a - b for a, b in zip(vec, c)]

    books = [
        [_resid([float(x) for x in head[r]["embedding"]])[j * 16 : (j + 1) * 16] for r in range(2, 6)]
        for j in range(4)
    ]
    query = [float(x) for x in head[7]["embedding"]]
    from pyspark.sql import Window

    path = f"{tempfile.gettempdir()}/aes_ivfadc_r_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(path, ignore_errors=True)
    staged = emb.withColumn("cluster", nearest_centroid_col("embedding", coarse)).withColumn(
        "codes", pq_code_col("embedding", books, coarse_centroids=coarse, cluster_col="cluster")
    )
    staged.write.partitionBy("cluster").parquet(path)  # codes AND raw vectors
    out = ivfadc_rerank_topk(
        spark, path, query, coarse, books,
        k=10, nprobe=1, rerank=30, id_col="vec_id", vec_col="embedding",
    )
    w = Window.orderBy(F.col("dist"), F.col("vec_id"))
    return out.select(
        "vec_id",
        F.floor(F.col("dist") * 1e6).cast("long").alias("exact_micro"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


def q_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC changelog over the snapshot catalog (round 7, the
    Iceberg create_changelog_view analog): append docs <50, append
    50-99, MoR-delete docs 10-19, then delete 10-14 AGAIN (a no-op —
    each delete's rows are computed against its own parent, so
    re-deletes emit nothing). changelog(v1) must contain exactly the
    50-99 inserts and the 10-19 deletes; DuckDB replays both sides
    relationally."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable

    root = f"{tempfile.gettempdir()}/aes_changelog_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = ManifestTable(root)
    v1 = t.append(docs.where(F.col("doc_id") < 50))
    t.append(docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 100)))
    dels = docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)).select("doc_id")
    t.delete(spark, dels, ["doc_id"])
    t.delete(spark, dels.where(F.col("doc_id") < 15), ["doc_id"])  # re-delete: no-op
    log = t.changelog(spark, v1)
    return log.select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("text_md5"),
        F.col("_change_type").alias("change_type"),
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """φ-heavy hitters via the count-min candidate filter + exact confirm
    (round 7, Cormode & Muthukrishnan §4): the sketch's cells fold into
    the row filter as plan literals, so only candidate keys' rows reach
    the confirm groupBy; count-min's one-sided error makes the result
    EXACTLY the plain HAVING query, which DuckDB replays directly. The
    key is deliberately skewed (a HOT key on every 3rd order, WARM on
    o_orderkey%7==1, the long custkey tail light) so the heavy set is
    non-trivial at every SF."""
    from article_extraction_spark.operators.sketches import heavy_hitters

    keyed = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 3 == 0, F.lit("HOT"))
        .when(F.col("o_orderkey") % 7 == 1, F.lit("WARM"))
        .otherwise(F.concat(F.lit("cust-"), F.col("o_custkey").cast("string")))
        .alias("k")
    )
    total = keyed.count()
    # r8: reuse the count as the operator's total — drops one of three
    # full passes over orders (the operator's standalone count scan)
    hh = heavy_hitters(keyed, "k", phi=0.01, d=4, w=512, total=total)
    return hh.select(
        "k",
        F.col("cnt").cast("long").alias("cnt"),
        F.lit(total).cast("long").alias("total_rows"),
    )


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-width histogram quantiles (round 7,
    operators/histogram.py): bin counts are one map-side-combined
    groupBy over ≤1000 keys (rows shuffle a bin id, never a value),
    merge = per-bin sums (rollup-maintainable), and the estimate is a
    closed-form interpolation DuckDB replays bit-for-bit — built from
    two disjoint partials merged together, so the oracle also pins
    decomposability."""
    from article_extraction_spark.operators.histogram import (
        hist_counts,
        hist_merge,
        hist_quantiles,
    )

    lo, hi, bins = 0.0, 600000.0, 1000
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    h = hist_merge(
        hist_counts(orders.where(F.col("o_orderkey") % 2 == 0), "o_totalprice", lo, hi, bins),
        hist_counts(orders.where(F.col("o_orderkey") % 2 == 1), "o_totalprice", lo, hi, bins),
    )
    est = hist_quantiles(h, [0.5, 0.9, 0.99], lo, hi, bins)
    return est.select(
        "q", F.floor(F.col("estimate") * 1e6).cast("long").alias("est_micro")
    )


def q_hist_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained histogram quantiles under append + DELETE churn
    (round 7 composition: histogram × IncrementalRollup × delete-aware
    CDC): two appends refresh incrementally, then a MoR equality delete
    folds NEGATIVE bin counts — mode stays "incremental", emptied bins
    tombstone-sweep, and the quantiles equal a from-scratch histogram of
    the surviving rows, which DuckDB replays with the same closed-form
    interpolation. Modes folded into the hashed result."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable
    from article_extraction_spark.operators.histogram import (
        hist_quantiles,
        maintained_hist,
    )

    lo, hi, bins = 0.0, 400.0, 200
    root = f"{tempfile.gettempdir()}/aes_mhist_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    source = ManifestTable(f"{root}/src")
    rollup = ManifestTable(f"{root}/roll")
    mh = maintained_hist(source, rollup, "value", lo, hi, bins)
    modes = []
    source.append(ev.where(F.col("event_id") < 500))
    modes.append(mh.refresh(spark)["mode"])
    source.append(ev.where((F.col("event_id") >= 500) & (F.col("event_id") < 1000)))
    modes.append(mh.refresh(spark)["mode"])
    source.delete(
        spark,
        ev.where((F.col("event_id") < 1000) & (F.col("event_id") % 5 == 0)).select("event_id"),
        ["event_id"],
    )
    modes.append(mh.refresh(spark)["mode"])
    est = hist_quantiles(
        rollup.read(spark).withColumnRenamed("n", "cnt"), [0.5, 0.9, 0.99], lo, hi, bins
    )
    return est.select(
        "q",
        F.floor(F.col("estimate") * 1e6).cast("long").alias("est_micro"),
        F.lit("|".join(modes)).alias("refresh_modes"),
    )


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level data-quality expectations (round 7, quality_gate.py —
    the Deequ/DLT pattern): three named rules over orders evaluated in
    ONE codegen'd pass, failing rows quarantined with the array of rules
    they violate. Result = exploded (order, rule) violations plus the
    clean-row count folded into every row; DuckDB replays each rule's
    3-valued logic (NULL verdict = violation) relationally."""
    from article_extraction_spark.operators.quality_gate import quarantine

    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 7 == 0)  # bounded result at every SF
        .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority")
    )
    rules = {
        "price_under_200k": F.col("o_totalprice") < 200000,
        "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
        "priority_urgentish": F.col("o_orderpriority").rlike("^[12]"),
    }
    good, bad = quarantine(orders, rules)
    n_good = good.count()
    return bad.select(
        "o_orderkey", F.explode("_violations").alias("rule")
    ).withColumn("good_rows", F.lit(n_good).cast("long"))


def q_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot rollback (round 7, the Iceberg rollback_to_snapshot
    analog): append docs <50, MoR-delete 10-19, append 50-99, overwrite
    with 100-119, then ROLL BACK to the post-delete snapshot — the head
    must read docs <50 minus 10-19 (files AND delete entries restored),
    while the overwritten state stays time-travelable (nothing is
    deleted by a rollback). Both properties fold into the hashed rows."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable

    root = f"{tempfile.gettempdir()}/aes_rollback_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = ManifestTable(root)
    t.append(docs.where(F.col("doc_id") < 50))
    t.delete(
        spark,
        docs.where((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)).select("doc_id"),
        ["doc_id"],
    )
    v2 = t.current_snapshot_id()
    t.append(docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 100)))
    t.overwrite(
        docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 120))
    )
    v5 = t.rollback(v2)
    # the rolled-back-over overwrite is still readable one snapshot back
    overwritten_rows = t.read(spark, snapshot_id=v5 - 1).count()
    return t.read(spark).select(
        "doc_id",
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("text_md5"),
        F.lit(overwritten_rows).cast("long").alias("overwritten_still_readable"),
    )


def q_grouped_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped median absolute deviation (round 5): the robust spread
    statistic, two exact percentiles with a broadcast join between them,
    floored to micros."""
    from article_extraction_spark.operators.aggregates import mad_by_group

    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    out = mad_by_group(ev, "event_type", "value")
    return out.select(
        "event_type",
        F.floor(F.col("median") * 1e6).cast("long").alias("median_micro"),
        F.floor(F.col("mad") * 1e6).cast("long").alias("mad_micro"),
    )


def q_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic near-dup pairs (round 5): nearest-of-4
    pinned centroids (the first four base embeddings, collected
    deterministically) partitions the corpus, pairwise cosine runs
    within clusters only. Value-oracled like embedding_near_dups: at
    threshold 0.999 the ONLY qualifying pairs are the planted exact
    copies (no base pair reaches 0.999 — verified there), and an
    identical vector always shares its original's nearest centroid, so
    the output is exactly (vec_id, vec_id+1M, 1.0) for every base
    vector — closed form."""
    from article_extraction_spark.operators.dedup import semantic_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    cents = [
        [float(x) for x in r["embedding"]]
        for r in emb.where(F.col("vec_id") < 4).orderBy("vec_id").collect()
    ]
    copies = emb.select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(copies)
    pairs = semantic_near_dup_pairs(corpus, "vec_id", "embedding", cents, threshold=0.999)
    return pairs.select("id_a", "id_b", F.round("cosine", 5).alias("cosine_r"))


def q_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (round 5): documents suffixed with
    decomposed sequences (e + combining acute, a + combining ring) are
    normalized by python's unicodedata on the Spark side and by DuckDB's
    utf8proc on the oracle side — two INDEPENDENT implementations of the
    Unicode normalization algorithm must produce byte-identical strings
    and lengths."""
    from article_extraction_spark.functions.textnorm import unicode_normalize_udf

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = docs.withColumn(
        "dirty", F.concat("text", F.lit(" é å ö final"))
    )
    nfc = unicode_normalize_udf("NFC")
    # project the UDF ONCE, derive the length from the projected column
    # (review r5: two nfc(...) expressions are distinct PythonUDF nodes
    # Catalyst won't CSE — every row crossed the Arrow boundary twice)
    return dirty.select(
        "doc_id",
        nfc(F.col("dirty")).alias("nfc_text"),
        F.length("dirty").alias("len_before"),
    ).select("doc_id", "nfc_text", "len_before", F.length("nfc_text").alias("len_after"))


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card (round 5, card.py): the corpus-level stats table a
    curation pipeline publishes — per-dimension counts, char-length
    stats (floored-micro means/medians), shared-vocabulary token totals,
    exact-dup groups via the normalized fingerprint, empty-doc count —
    one long-format (section, key, value) DataFrame, every row
    integer-exact and replayed in DuckDB."""
    from article_extraction_spark.card import corpus_card

    docs = _t(spark, sf_dir, "documents")
    # project the card's inputs (id, text, mixture dims) before the
    # balancing exchange — fan_out_small_scan's project-first contract
    cols = [c for c in ("doc_id", "text", "lang", "source") if c in docs.columns]
    return corpus_card(fan_out_small_scan(docs.select(*cols)))


def q_near_dup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one near-dup pruning (round 5): the dedup_components corpus
    (docs + tail-edited copies) runs MinHash pairs → transitive closure →
    keep each cluster's min id → surviving corpus with cluster sizes.
    The oracle recomputes the TRUE exact-Jaccard edge set, closes it
    with a recursive CTE, and derives the identical survivor set — a
    hash match certifies LSH recall, the component labeling, AND the
    materialized prune in one result."""
    from article_extraction_spark.operators.dedup import minhash_dedup, prune_near_duplicates

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    edited = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail edit")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(edited)
    pairs = minhash_dedup(corpus, "doc_id", "text", threshold=0.6, num_hashes=32, bands=16)
    out = prune_near_duplicates(corpus, pairs, id_col="doc_id")
    pairs.unpersist()
    res = out.select("doc_id", "cluster_size")
    res._retained_cache = out._retained_cache  # forward the label-table handle
    return res


def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot diff (round 5, ManifestTable.diff — the
    complement of the append-only CDC read): append docs 0-99, then
    MERGE-update 0-9 (upper-cased text), MoR-delete 50-59, append
    100-119 — diff(v1 → head) must classify exactly the changed/
    removed/added rows with NULL-safe value comparison. DuckDB replays
    the expected classification relationally."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable

    root = f"{tempfile.gettempdir()}/aes_tdiff_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = ManifestTable(root)
    v1 = t.append(docs.where(F.col("doc_id") < 100))
    t.merge(
        spark,
        docs.where(F.col("doc_id") < 10).withColumn("text", F.upper("text")),
        ["doc_id"],
    )
    t.delete(spark, docs.where((F.col("doc_id") >= 50) & (F.col("doc_id") < 60)), ["doc_id"])
    t.append(docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 120)))
    return t.diff(spark, v1, keys=["doc_id"]).select("change", "doc_id", "text")


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped winsorization (round 5): clip events.value to each
    event_type's exact [p10, p90] (linear-interpolation percentiles —
    Spark F.percentile and DuckDB quantile_cont share the definition),
    floored to micros."""
    from article_extraction_spark.operators.aggregates import winsorize_by_group

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    out = winsorize_by_group(ev, "event_type", "value", 0.1, 0.9)
    return out.select(
        "event_id",
        "event_type",
        F.floor(F.col("value_winsor") * 1e6).cast("long").alias("winsor_micro"),
    )


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain-mixture sampling (round 5): α=0.5-
    smoothed language mixture over documents, target 2× the corpus —
    skewed languages down-weighted, rare ones up-sampled by integer
    repetition + a 16-bit md5-threshold fractional copy. The exploded
    (doc_id, lang, copy) multiset is the result; DuckDB replays the
    share/rate arithmetic and the hex-threshold draw exactly."""
    from article_extraction_spark.operators.split import domain_mixture_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    n = docs.count()
    out = domain_mixture_sample(docs, "lang", "doc_id", target_rows=2 * n, alpha=0.5, seed=42)
    return out.select("doc_id", "lang", F.col("copy").cast("long").alias("copy"))


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational BM25 retrieval (round 5, operators/retrieval.py): three
    fixed queries against the documents corpus — inverted index + the
    Lucene non-negative idf formula, broadcast query side. All scored
    (query, doc) pairs are returned floored to micros (no top-k in the
    oracle: rank-k tie boundaries are where cross-engine float noise
    bites; the top-k path is pytest-pinned against a python twin
    instead). DuckDB replays the identical formula relationally."""
    from article_extraction_spark.operators.retrieval import bm25_scores, build_text_index

    # r8: index tokenization fans out of the single-split scan (see fan_out_small_scan)
    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    queries = spark.createDataFrame(
        [(1, "merge sort join"), (2, "spark filter customer"), (3, "window hash scan")],
        "query_id long, qtext string",
    )
    postings, stats = build_text_index(docs)
    scored = bm25_scores(postings, stats, queries)
    return scored.select(
        "query_id",
        "doc_id",
        F.floor(F.col("score") * 1e6).cast("long").alias("score_micro"),
    )


def q_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over a MAINTAINED index (round 6, VERDICT r5 #5): documents
    ingested in two batches into MaintainedBM25Index — ManifestTable
    rollups kept fresh by IncrementalRollup (bootstrap full, second
    batch CDC-incremental), serving layout partitioned by md5-derived
    term bucket, query scan pruned to the probed buckets at planning
    time. Scores must equal a from-scratch index of the full corpus
    (DuckDB replays that directly); the observed refresh modes and the
    probe-bucket count are folded into the hashed result, so the oracle
    also pins that the incremental path ran and that the probe touches
    a strict subset of buckets (DuckDB re-derives the count from the
    same md5 arithmetic)."""
    import shutil
    import tempfile

    from article_extraction_spark.operators.retrieval import MaintainedBM25Index

    root = f"{tempfile.gettempdir()}/aes_bm25idx_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    idx = MaintainedBM25Index(root, n_buckets=16)
    s1 = idx.ingest(spark, docs.where(F.col("doc_id") < 40))
    s2 = idx.ingest(spark, docs.where(F.col("doc_id") >= 40))
    queries = spark.createDataFrame(
        [(1, "merge sort join"), (2, "spark filter customer"), (3, "window hash scan")],
        "query_id long, qtext string",
    )
    scored = idx.scores(spark, queries)
    nprobe = len(idx.probe_buckets(spark, queries))
    return scored.select(
        "query_id",
        "doc_id",
        F.floor(F.col("score") * 1e6).cast("long").alias("score_micro"),
        F.lit(f"{s1['postings_mode']},{s2['postings_mode']}").alias("post_modes"),
        F.lit(nprobe).cast("int").alias("n_probe_buckets"),
        F.lit(16).cast("int").alias("n_total_buckets"),
    )


def q_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained rollup (round 5, rollup.py): ingest
    events into a snapshot table in three appends, refreshing a
    per-event-type count/sum/min/max rollup after each — bootstrap full,
    then two CDC-delta refreshes that only aggregate new rows. Then a
    source MERGE (row rewrite) forces the documented full-recompute
    fallback. The returned rows are the final rollup (micros-floored
    doubles) plus the observed refresh modes folded in, so the oracle
    hash pins BOTH the values and that the incremental path actually ran;
    DuckDB recomputes the aggregates relationally from the same rows."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable
    from article_extraction_spark.rollup import IncrementalRollup

    root = f"{tempfile.gettempdir()}/aes_rollup_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    # floored-micros BEFORE aggregation: integer sums are exact, so the
    # incremental fold order cannot drift a ulp from DuckDB's one-pass sum
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1e6).cast("long").alias("v_micro"),
    )
    source = ManifestTable(f"{root}/src")
    rollup = ManifestTable(f"{root}/roll")
    ir = IncrementalRollup(
        source,
        rollup,
        ["event_type"],
        {
            "n": ("count", None),
            "sum_v": ("sum", "v_micro"),
            "min_v": ("min", "v_micro"),
            "max_v": ("max", "v_micro"),
        },
    )
    modes = []
    for lo, hi in ((0, 300), (300, 700), (700, 10**9)):
        source.append(ev.where((F.col("event_id") >= lo) & (F.col("event_id") < hi)))
        modes.append(ir.refresh(spark)["mode"])
    # a row rewrite in source history → full-recompute fallback
    source.merge(
        spark,
        ev.where(F.col("event_id") < 5).withColumn(
            "v_micro", F.col("v_micro") + F.lit(1_000_000_000).cast("long")
        ),
        ["event_id"],
    )
    modes.append(ir.refresh(spark)["mode"])
    # round 7 (VERDICT r6 #4): a SECOND, count/sum-only rollup stays
    # INCREMENTAL under a MoR equality delete — the removed rows fold as
    # negative partials instead of forcing a rebuild; the observed modes
    # ("full" bootstrap, then "incremental" across the delete) are folded
    # into the hashed result alongside the post-delete values
    rollup2 = ManifestTable(f"{root}/roll2")
    ir2 = IncrementalRollup(
        source, rollup2, ["event_type"],
        {"n2": ("count", None), "sum2": ("sum", "v_micro")},
    )
    modes2 = [ir2.refresh(spark)["mode"]]
    source.delete(
        spark, ev.where(F.col("event_id") < 10).select("event_id"), ["event_id"]
    )
    modes2.append(ir2.refresh(spark)["mode"])
    # sum columns surface as DOUBLE: the oracle's DuckDB sum(BIGINT) is
    # HUGEINT, which pandas materializes as float64 — the driver's hash is
    # dtype-sensitive, so int64 here red-flagged r7 (VERDICT r7 #1; oracle
    # SQL is frozen this round, so the representation aligns on this side;
    # the values are exact integers < 2^53, lossless in float64)
    after = rollup2.read(spark).select(
        "event_type",
        F.col("n2").cast("long").alias("n_after_delete"),
        F.col("sum2").cast("double").alias("sum_after_delete"),
    )
    return (
        rollup.read(spark)
        .join(after, "event_type", "left")
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("sum_v").cast("double").alias("sum_v_micro"),
            F.col("min_v").cast("long").alias("min_v_micro"),
            F.col("max_v").cast("long").alias("max_v_micro"),
            "n_after_delete",
            "sum_after_delete",
            F.lit("|".join(modes)).alias("refresh_modes"),
            F.lit("|".join(modes2)).alias("delete_leg_modes"),
        )
    )


def q_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style incremental scan over the snapshot catalog (round 5,
    VERDICT r4 #3): append docs 0-99, append 100-149, compact, append
    150-199 — ``read_incremental(v1)`` must return EXACTLY docs 100-199
    (the compaction rewrites rows but adds none). Then
    ``expire_snapshots(keep_last=2)`` ages out the early history and two
    properties are folded into every hashed row: the head still reads all
    200 docs, and the surviving-window delta (v3→v4) still returns docs
    150-199. DuckDB replays the delta relationally."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable

    root = f"{tempfile.gettempdir()}/aes_increread_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = ManifestTable(root)
    v1 = t.append(docs.where(F.col("doc_id") < 100))
    t.append(docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)))
    v3 = t.compact(spark, target_bytes=1 << 30)
    v4 = t.append(docs.where((F.col("doc_id") >= 150) & (F.col("doc_id") < 200)))

    delta = t.read_incremental(spark, v1).select("doc_id", "text")
    # materialize OFF the table's files before expiry deletes the ones the
    # delta read (cache eviction would otherwise recompute against them)
    delta_rows = spark.createDataFrame(delta.collect(), delta.schema)

    t.expire_snapshots(keep_last=2)
    head_ok = t.read(spark).count() == 200
    surv = t.read_incremental(spark, v3, v4)
    surv_ok = (
        surv.agg(
            F.count("*").alias("n"), F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).collect()[0]
    )
    surv_ok = surv_ok["n"] == 50 and surv_ok["lo"] == 150 and surv_ok["hi"] == 199
    out = delta_rows.select(
        "doc_id",
        "text",
        F.lit(bool(head_ok)).alias("head_after_expiry_ok"),
        F.lit(bool(surv_ok)).alias("surviving_delta_ok"),
    )
    return out


def q_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset detection + correct decoding of non-UTF-8 payloads (round 5,
    VERDICT r4 #6 — the reference's errors='ignore' silently destroys
    legacy-charset bytes). Four planted variants per doc_id%4: plain
    UTF-8, UTF-16-LE with BOM, bare windows-1252 (high-byte heuristic),
    and windows-1252 with a declared <meta charset>. The oracle
    reconstructs the exact decoded text, the detected encoding label, and
    the ladder's confidence constant for every row."""
    import codecs

    from article_extraction_spark.extract.charset import detect_decode_udf

    SUF = " — café ±15° €"
    META = '<meta charset="windows-1252">'

    @F.pandas_udf("binary")
    def make_payload(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        out = []
        for i, t in zip(doc_id, text):
            v = int(i) % 4
            if v == 0:
                out.append((t + SUF).encode("utf-8"))
            elif v == 1:
                out.append(codecs.BOM_UTF16_LE + (t + SUF).encode("utf-16-le"))
            elif v == 2:
                out.append((t + SUF).encode("windows-1252"))
            else:
                out.append((META + t + SUF).encode("windows-1252"))
        return pd.Series(out)

    docs = (
        _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200).select("doc_id", "text")
    )
    det = docs.withColumn(
        "payload", make_payload(F.col("doc_id"), F.col("text"))
    ).withColumn("d", detect_decode_udf()(F.col("payload")))
    return det.select(
        "doc_id",
        F.col("d.text").alias("decoded"),
        F.col("d.encoding").alias("encoding"),
        F.col("d.confidence").alias("confidence"),
    )


def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + MERGE through the catalog layer, value-oracled:
    build a ManifestTable from orders (k ≤ 20), MERGE an update set (double
    v for k ≤ 10, insert two new keys), then read BOTH snapshots — the
    union tagged by snapshot must match the oracle's relational replay.
    Exercises the commit protocol, copy-on-write MERGE, and time travel."""
    import shutil
    import tempfile

    from article_extraction_spark.catalog import ManifestTable

    root = f"{tempfile.gettempdir()}/aes_catalog_{__import__('os').path.basename(__import__('os').path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders")
    base = orders.where(F.col("o_orderkey") <= 20).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("v")
    )
    t = ManifestTable(root)
    t.append(base)
    s1 = t.current_snapshot_id()
    src = (
        base.where(F.col("k") <= 10).select("k", (F.col("v") * 2).alias("v"))
        .unionByName(
            orders.where(F.col("o_orderkey") <= 2).select(
                (F.col("o_orderkey") + 1_000_000).alias("k"), F.col("o_totalprice").alias("v")
            )
        )
    )
    t.merge(spark, src, ["k"])
    v1 = t.read(spark, snapshot_id=s1).select(F.lit("v1").alias("snap"), "k", "v")
    v2 = t.read(spark).select(F.lit("v2").alias("snap"), "k", "v")
    return v1.unionByName(v2)


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL curation pipeline as one value-oracled query: gopher quality
    filter -> exact dedup (keep lowest id per fingerprint) -> MinHash
    near-dup removal (drop the higher id; bands=16/r=2 so borderline-pair
    miss probability ~1e-9 -> LSH recall exactly matches the oracle's true
    all-pairs answer) -> n-gram decontamination vs the doc_id<50 slice.
    Output = the surviving doc ids. The oracle recomputes every stage
    relationally in SQL, so a hash match certifies the END-TO-END funnel."""
    from article_extraction_spark.operators.dedup import contamination_check, minhash_dedup
    from article_extraction_spark.operators.textstats import fingerprint_col, gopher_flags_col

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    quality = docs.withColumn("_g", gopher_flags_col(F.col("text"))).where(F.col("_g.passes")).drop("_g")
    keyed = quality.withColumn("_fp", fingerprint_col(F.col("text")))
    first = keyed.groupBy("_fp").agg(F.min("doc_id").alias("doc_id"))
    exact = keyed.join(first, ["_fp", "doc_id"], "left_semi").drop("_fp")
    pairs = minhash_dedup(exact, "doc_id", "text", threshold=0.85, num_hashes=32, bands=16)
    # NO unpersist here: the returned DataFrame is lazy and the driver
    # collects it later — releasing the materialized pair table now would
    # force a full cache-less recompute of the MinHash pipeline at
    # evaluation time (the interpreted-HOF re-tokenization path the
    # materialization boundary exists to avoid). The cached pair table is
    # tiny and lives until the gate session ends.
    near = exact.join(pairs.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti")
    benchmark = docs.where(F.col("doc_id") < 50)
    # ≥10 shared distinct 3-grams counts as contaminated: the tiny synthetic
    # vocab makes 1-2 incidental shared trigrams ubiquitous, so the classic
    # any-overlap rule would empty the corpus and prove nothing
    contam = contamination_check(near, benchmark, "doc_id", "text", ngram=3, threshold=10)
    keep = contam.where(~F.col("contaminated")).select("doc_id")
    return near.join(keep, "doc_id", "left_semi").select("doc_id", F.length("text").alias("n_chars"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling by language: md5-threshold
    row selection (engine-portable, same construction as hash_split)."""
    from article_extraction_spark.operators.split import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    frac = {"en": 0.5, "es": 1.0, "de": 0.25, "fr": 0.0}
    return stratified_sample(docs, "lang", frac, key="doc_id")


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals: duplicate-word ratio + top-bigram share,
    computed relationally (explode -> count -> max/sum -> join back)."""
    from article_extraction_spark.operators.textstats import repetition_stats

    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return repetition_stats(docs, "doc_id", "text")


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocab stats: top-20 terms by token frequency (map-side partial
    agg -> one shuffle -> TakeOrderedAndProject)."""
    from article_extraction_spark.operators.textstats import top_terms

    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("text"))
    return top_terms(docs, "text", k=20)


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-doc count of distinct word 3-grams
    shared with a 'benchmark' slice (doc_id < 50). n-gram size 3 because the
    synthetic docs are short; the operator defaults to the classic 13. Value
    oracle: the relational formulation is exactly expressible in SQL."""
    from article_extraction_spark.operators.dedup import contamination_check

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # benchmark side stays on the pruned scan (predicate pushdown); only the
    # corpus side — where the shingle HOFs run per row — is fanned out
    # (r8: 7.8 s → 1.4 s at sf1.0, see fan_out_small_scan)
    benchmark = docs.where(F.col("doc_id") < 50)
    corpus = fan_out_small_scan(docs)
    return contamination_check(corpus, benchmark, "doc_id", "text", ngram=3, threshold=1)


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation: PII redaction (emails / IPv4 / long digit
    runs) with per-kind counts — native regexp expressions, patterns chosen
    RE2/Java-portable so the oracle replicates them verbatim. PII is planted
    deterministically per doc_id (the synthetic corpus contains none)."""
    from article_extraction_spark.operators.textstats import redact_pii

    # r8: seven regex passes over the full text ran in the scan's 1-2 tasks;
    # spread to core count (3.1 s → 0.6 s at sf1.0)
    docs = fan_out_small_scan(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ref 12345678"),
            (F.col("doc_id") % 10).cast("string"),
        ),
    )
    out = redact_pii(planted, "text")
    return out.select("doc_id", "n_email", "n_ipv4", "n_longnum", "redacted")


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup detection against a persistent MinHash index
    (round 7, VERDICT r6 #2 — the exact-dedup index's near-dup sibling):
    batch 1 (docs < 40) bootstraps the index; batch 2 (docs 40-59 plus
    near-identical ' tail edit' copies of docs < 20, ids +1000000)
    ingests against it — LSH candidates come from the batch's banded
    keys joined to the bucket-partitioned serving layout (pruned at
    planning time) plus the within-batch self-join, and survive on
    signature agreement ≥ 8/16 components. A third REPLAY of batch 2
    must be a no-op, folded into the hashed result as replay_new_docs=0.
    Hashing is md5 arithmetic end to end, so DuckDB replays signatures,
    bands, buckets, candidates and the verification counts exactly."""
    import shutil
    import tempfile

    from article_extraction_spark.operators.minhash_index import MaintainedMinHashIndex

    root = f"{tempfile.gettempdir()}/aes_mhidx_{os.path.basename(os.path.normpath(sf_dir))}"
    shutil.rmtree(root, ignore_errors=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch1 = docs.where(F.col("doc_id") < 40)
    batch2 = docs.where((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)).unionByName(
        docs.where(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail edit")).alias("text"),
        )
    )
    idx = MaintainedMinHashIndex(root, num_hashes=16, bands=8, n_buckets=16)
    s1 = idx.ingest(spark, batch1, threshold=0.5)
    s1["pairs"].unpersist(blocking=False)
    s2 = idx.ingest(spark, batch2, threshold=0.5)
    s3 = idx.ingest(spark, batch2, threshold=0.5)  # replay: must be a no-op
    s3["pairs"].unpersist(blocking=False)
    return s2["pairs"].select(
        "id_a",
        "id_b",
        F.col("n_matches").cast("int").alias("n_matches"),
        F.lit(s3["new_docs"]).cast("int").alias("replay_new_docs"),
        F.lit(s2["buckets_probed"]).cast("int").alias("buckets_probed"),
        F.lit(s2["min_matches"]).cast("int").alias("min_matches"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order is the driver's sampling order (first ~50 scored per
    # round). Round 7 front-loads the queries never scored in r1-r6
    # (VERDICT r6 item 1); previously-scored queries follow. bench.py
    # selects by NAME, so this order only affects driver sampling.
    return {
        "minhash_incremental": q_minhash_incremental,
        "ivfadc_rerank": q_ivfadc_rerank,
        "changelog": q_changelog,
        "expectations": q_expectations,
        "rollback": q_rollback,
        "heavy_hitters": q_heavy_hitters,
        "hist_quantiles": q_hist_quantiles,
        "hist_incremental": q_hist_incremental,
        "bm25_incremental": q_bm25_incremental,
        "mor_delete": q_mor_delete,
        "update_where": q_update_where,
        "positional_delete": q_positional_delete,
        "stats_pruned_read": q_stats_pruned_read,
        "bloom_point_read": q_bloom_point_read,
        "bloom_anti": q_bloom_anti,
        "cm_sketch": q_cm_sketch,
        "cm_incremental": q_cm_incremental,
        "hll_distinct": q_hll_distinct,
        "hll_incremental": q_hll_incremental,
        "pagerank": q_pagerank,
        "weighted_sample": q_weighted_sample,
        "substring_dup_spans": q_substring_dup_spans,
        "substring_strip": q_substring_strip,
        "pq_codes": q_pq_codes,
        "pq_residual_codes": q_pq_residual_codes,
        "rollup_refresh": q_rollup_refresh,
        "bm25": q_bm25,
        "time_travel": q_time_travel,
        "incremental_read": q_incremental_read,
        "charset_detect": q_charset_detect,
        "domain_mixture": q_domain_mixture,
        "near_dup_prune": q_near_dup_prune,
        "semantic_pairs": q_semantic_pairs,
        "exact_dup_groups": q_exact_dup_groups,
        "dedup_components": q_dedup_components,
        "table_diff": q_table_diff,
        "winsorize": q_winsorize,
        "corpus_card": q_corpus_card,
        "length_batches": q_length_batches,
        "unicode_nfc": q_unicode_nfc,
        "canonical_urls": q_canonical_urls,
        "range_join": q_range_join,
        "repetition": q_repetition,
        "stratified_sample": q_stratified_sample,
        "curation_funnel": q_curation_funnel,
        "pack_blocks": q_pack_blocks,
        "bigram_lm_score": q_bigram_lm_score,
        "boilerplate_lines": q_boilerplate_lines,
        "answer_agg_modes": q_answer_agg_modes,
        "clean_convert": q_clean_convert,
        "pdf_layout": q_pdf_layout,
        "sink_roundtrip": q_sink_roundtrip,
        "jpeg_decode": q_jpeg_decode,
        "jpeg_progressive": q_jpeg_progressive,
        "window_suite": q_window_suite,
        "vocab_stats": q_vocab_stats,
        "collapse_lines": q_collapse_lines,
        "grouped_quantiles": q_grouped_quantiles,
        "grouped_mad": q_grouped_mad,
        "ntile": q_ntile,
        "grouped_median": q_grouped_median,
        "moving_avg": q_moving_avg,
        "convert_html": q_convert_html,
        "classify_kinds": q_classify_kinds,
        "anti_join": q_anti_join,
        "left_join_counts": q_left_join_counts,
        "latest_order_per_customer": q_latest_order_per_customer,
        "dedup_stats": q_dedup_stats,
        "desc_stats": q_desc_stats,
        "topk_orders": q_topk_orders,
        "hash_split": q_hash_split,
        "cumulative_mean": q_cumulative_mean,
        "union_names": q_union_names,
        "parse_numeric": q_parse_numeric,
        "casts": q_casts,
        "normalize_text": q_normalize_text,
        "first_url": q_first_url,
        "levenshtein": q_levenshtein,
        "token_counts": q_token_counts,
        "text_quality": q_text_quality,
        "lang_marker_hits": q_lang_marker_hits,
        "fingerprint": q_fingerprint,
        "cosine_topk": q_cosine_topk,
        "fuzzy_country_identity": q_fuzzy_country_identity,
        "media_features": q_media_features,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_near_dups": q_simhash_near_dups,
        "embedding_near_dups": q_embedding_near_dups,
        "lsh_topk": q_lsh_topk,
        "lsh_topk_bucketed": q_lsh_topk_bucketed,
        "ivf_topk": q_ivf_topk,
        "zorder_box": q_zorder_box,
        "incremental_dedup": q_incremental_dedup,
        "grouped_corr": q_grouped_corr,
        "ngram_jaccard": q_ngram_jaccard,
        "tfidf_top_terms": q_tfidf_top_terms,
        "char_windows": q_char_windows,
        "token_windows": q_token_windows,
        "bpe_roundtrip": q_bpe_roundtrip,
        "bpe_token_ops": q_bpe_token_ops,
        "extract_fields": q_extract_fields,
        "jaro_winkler": q_jaro_winkler,
        "upsert_merge": q_upsert_merge,
        "physics_complete": q_physics_complete,
        "eval_char_summary": q_eval_char_summary,
        "encode_dedupe": q_encode_dedupe,
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        "cube_agg": q_cube_agg,
        "rollup_agg": q_rollup_agg,
        "pivot": q_pivot,
        "qa_spans": q_qa_spans,
        "readability": q_readability,
        "sql_api": q_sql_api,
        "gopher_flags": q_gopher_flags,
        "lang_id": q_lang_id,
        "histogram": q_histogram,
        "time_buckets": q_time_buckets,
        "pii_redaction": q_pii_redaction,
        "contamination": q_contamination,
        "top_terms": q_top_terms,
    }


def oracle_sql() -> dict[str, str]:
    from article_extraction_spark.operators.sketches import hll_raw_numerator

    _hll_num = repr(hll_raw_numerator(8))  # α·m²·2^48 — MUST match the Spark literal

    from article_extraction_spark.operators.minhash_index import MINHASH_P, minhash_params

    # (a_k, b_k) pairs as a DuckDB list literal — same generator the Spark
    # expressions use, so signatures replay bit-for-bit
    _mh_ab = "[" + ",".join(
        f"[{a}::BIGINT,{b}::BIGINT]" for a, b in minhash_params(16)
    ) + "]"

    def _pr_iter(prev: str, name: str) -> str:
        """One unrolled integer-PageRank round (scale 1e9, dp 850)."""
        return f"""
            {name} AS (
              SELECT n.id,
                     (SELECT ((1000000000::BIGINT * 150) // (1000::BIGINT * n)) FROM meta)
                     + (SELECT ((coalesce(sum(r.r), 0) * 850::BIGINT)
                                // (1000::BIGINT * (SELECT n FROM meta)))
                        FROM {prev} r LEFT JOIN deg d ON r.id = d.u
                        WHERE d.u IS NULL)
                     + coalesce(c.s, 0) AS r
              FROM nodes n LEFT JOIN (
                SELECT e.v AS id, sum((r.r * 850::BIGINT) // (1000::BIGINT * d.deg)) AS s
                FROM e JOIN {prev} r ON e.u = r.id JOIN deg d ON e.u = d.u
                GROUP BY e.v
              ) c ON n.id = c.id
            )"""

    _pagerank_sql = f"""
        WITH e AS (
          SELECT 's' || CAST(l_suppkey AS VARCHAR) AS u,
                 'p' || CAST(l_partkey AS VARCHAR) AS v
          FROM lineitem
        ),
        nodes AS (SELECT u AS id FROM e UNION SELECT v FROM e),
        deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
        meta AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT id, (SELECT 1000000000::BIGINT // n FROM meta) AS r FROM nodes),
        {_pr_iter("r0", "it1")},
        {_pr_iter("it1", "it2")},
        {_pr_iter("it2", "it3")}
        SELECT id AS node, CAST(r AS BIGINT) AS rank_scaled FROM it3
    """
    return {
        "pagerank": _pagerank_sql,
        "positional_delete": """
            WITH f1 AS (
              SELECT doc_id, lang,
                     row_number() OVER (ORDER BY doc_id) - 1 AS pos
              FROM documents
            ),
            f2 AS (
              SELECT doc_id, lang,
                     row_number() OVER (ORDER BY doc_id) - 1 AS pos
              FROM documents WHERE doc_id < 20
            )
            SELECT doc_id, lang, TRUE AS no_rewrite
            FROM f1 WHERE NOT (doc_id < 20 AND pos % 2 = 1)
            UNION ALL
            SELECT doc_id, lang, TRUE
            FROM f2 WHERE NOT (doc_id < 20 AND pos % 2 = 1)
        """,
        "update_where": """
            SELECT doc_id,
                   CASE WHEN doc_id BETWEEN 120 AND 180 THEN 'xx' ELSE lang END AS lang,
                   TRUE AS untouched_carried
            FROM documents
        """,
        "bloom_point_read": """
            WITH slices AS (
              SELECT doc_id, lang, doc_id % 4 AS s FROM documents
            ),
            params AS (
              SELECT s, count(*) AS n,
                     CAST(power(2, greatest(6, ceil(log2(count(*) * 10))))
                          AS BIGINT) AS m
              FROM slices GROUP BY s
            ),
            params2 AS (
              SELECT s, n, m,
                     greatest(1, least(16,
                       CAST(floor(0.693 * m / n + 0.5) AS BIGINT))) AS k
              FROM params
            ),
            ii AS (SELECT unnest(generate_series(0, 15)) AS i),
            probe_pos AS (
              SELECT p.s, ii.i,
                     ('0x' || substr(md5(CAST(ii.i AS VARCHAR) || '|137'), 1, 8))::BIGINT
                       % p.m AS pos
              FROM params2 p, ii WHERE ii.i < p.k
            ),
            slice_pos AS (
              SELECT DISTINCT sl.s,
                     ('0x' || substr(md5(CAST(jj.i AS VARCHAR) || '|' ||
                          CAST(sl.doc_id AS VARCHAR)), 1, 8))::BIGINT % p.m AS pos
              FROM slices sl JOIN params2 p ON p.s = sl.s, ii jj
              WHERE jj.i < p.k
            ),
            covered AS (
              SELECT pp.s, pp.i, (sp.pos IS NOT NULL) AS hit
              FROM probe_pos pp
              LEFT JOIN slice_pos sp ON sp.s = pp.s AND sp.pos = pp.pos
            ),
            scanned AS (
              SELECT count(*) AS nf FROM (
                SELECT s FROM covered GROUP BY s HAVING bool_and(hit)
              )
            )
            SELECT d.doc_id, d.lang,
                   (SELECT nf FROM scanned) AS n_files_scanned,
                   CAST(4 AS BIGINT) AS n_files_total
            FROM documents d WHERE d.doc_id = 137
        """,
        "convert_html": """
            SELECT doc_id, trim(text) || chr(10) || 'lang: ' || lang AS extracted_text
            FROM documents
            WHERE length(trim(text) || chr(10) || 'lang: ' || lang) > 0
        """,
        "classify_kinds": """
            SELECT CASE WHEN doc_id % 3 = 0 THEN 'html'
                        WHEN doc_id % 3 = 1 THEN 'txt'
                        ELSE 'json' END AS doc_kind,
                   count(*) AS n
            FROM documents GROUP BY 1
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "left_join_counts": """
            SELECT c_custkey, count(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey
        """,
        "latest_order_per_customer": """
            SELECT o_custkey, strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_date
            FROM orders GROUP BY o_custkey
        """,
        "dedup_stats": """
            SELECT count(*) AS n_total, count(DISTINCT md5(text)) AS n_distinct FROM documents
        """,
        "desc_stats": """
            SELECT count(l_quantity) AS n,
                   round(avg(l_quantity), 6) AS mean_qty,
                   median(l_quantity) AS median_qty,
                   min(l_quantity) AS min_qty,
                   max(l_quantity) AS max_qty
            FROM lineitem
        """,
        "topk_orders": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC LIMIT 10
        """,
        "hash_split": """
            SELECT CASE WHEN substring(md5(cast(c_custkey AS VARCHAR)), 1, 2) < '0d' THEN 'train'
                        WHEN substring(md5(cast(c_custkey AS VARCHAR)), 1, 2) < 'f3' THEN 'test'
                        ELSE 'dev' END AS split,
                   count(*) AS n
            FROM customer GROUP BY 1
        """,
        "cumulative_mean": """
            SELECT event_id,
                   floor(cast(sum(cast(floor(value * 100) AS BIGINT)) OVER w AS DOUBLE)
                         / count(cast(floor(value * 100) AS BIGINT)) OVER w * 1e4) / 1e6 AS cum_mean
            FROM events WHERE event_type = 'click'
            WINDOW w AS (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "union_names": """
            SELECT r_name AS name FROM region UNION ALL SELECT n_name AS name FROM nation
        """,
        "parse_numeric": """
            SELECT l_orderkey, l_linenumber,
                   cast(cast(l_quantity AS INTEGER) AS DOUBLE) * 1000 AS parsed_qty
            FROM lineitem
        """,
        "casts": """
            SELECT o_orderkey,
                   year(o_orderdate) AS order_year,
                   CASE WHEN o_orderkey % 2 = 0 THEN true ELSE NULL END AS flag
            FROM orders
        """,
        "normalize_text": """
            SELECT p_partkey,
                   trim(regexp_replace(regexp_replace(lower(trim(p_type)), '[^a-z0-9 \t\n]', ' ', 'g'),
                        '\\s+', ' ', 'g')) AS norm_type
            FROM part
        """,
        "first_url": """
            SELECT s_suppkey,
                   'https://example.org/doc/' || cast(s_suppkey AS VARCHAR) || '.pdf' AS url
            FROM supplier
        """,
        "levenshtein": """
            SELECT n_name, r_name,
                   levenshtein(n_name, r_name) AS lev,
                   round(cast(levenshtein(n_name, r_name) AS DOUBLE)
                         / greatest(length(n_name), length(r_name)), 6) AS lev_norm
            FROM nation CROSS JOIN region
        """,
        "token_counts": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens
            FROM documents
        """,
        "text_quality": """
            SELECT doc_id,
                   round(cast(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 \t\n]', '', 'g')) AS DOUBLE)
                         / length(text), 6) AS punct_ratio,
                   round(cast(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                              w -> w IN ('the', 'a', 'and'))) AS DOUBLE)
                         / len(regexp_split_to_array(lower(trim(text)), '\\s+')), 6) AS stopword_ratio
            FROM documents
        """,
        "lang_marker_hits": """
            SELECT doc_id,
                   len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   w -> w IN ('the', 'and', 'of'))) AS en_hits,
                   len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   w -> w IN ('el', 'la', 'de'))) AS es_hits,
                   len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                   w -> w IN ('der', 'die', 'und'))) AS de_hits
            FROM documents
        """,
        "fingerprint": """
            SELECT doc_id,
                   md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                            '\\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "cosine_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 5) AS cosine_r
            FROM embeddings
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC, vec_id
            LIMIT 20
        """,
        "fuzzy_country_identity": """
            SELECT n_nationkey, n_nationkey AS id_country FROM nation
        """,
        "media_features": """
            SELECT doc_id AS media_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   cast(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   sha256(text) AS content_hash
            FROM documents
        """,
        "char_windows": """
            SELECT doc_id,
                   cast(i AS INTEGER) AS window_idx,
                   substring(text, cast(i AS INTEGER) * 100 + 1, 200) AS window_text
            FROM (
                SELECT doc_id, text,
                       unnest(range(0, CASE WHEN length(text) <= 200 THEN 1
                                  ELSE cast(ceil((length(text) - 200) / 100.0) AS INTEGER) + 1 END)) AS i
                FROM documents
            )
        """,
        "charset_detect": """
            SELECT doc_id,
                   CASE WHEN doc_id % 4 = 3
                        THEN '<meta charset="windows-1252">' || text || ' — café ±15° €'
                        ELSE text || ' — café ±15° €' END AS decoded,
                   CASE doc_id % 4 WHEN 0 THEN 'utf-8'
                                   WHEN 1 THEN 'utf-16-le'
                                   ELSE 'windows-1252' END AS encoding,
                   CAST(CASE doc_id % 4 WHEN 0 THEN 0.99
                                        WHEN 1 THEN 1.0
                                        WHEN 2 THEN 0.6
                                        ELSE 0.9 END AS DOUBLE) AS confidence
            FROM documents
            WHERE doc_id < 200
        """,
        "incremental_read": """
            SELECT doc_id,
                   text,
                   TRUE AS head_after_expiry_ok,
                   TRUE AS surviving_delta_ok
            FROM documents
            WHERE doc_id >= 100 AND doc_id < 200
        """,
        "bpe_roundtrip": """
            SELECT doc_id,
                   text AS decoded,
                   TRUE AS tokens_le_bytes,
                   CAST(24 AS INTEGER) AS n_merges
            FROM documents
            WHERE doc_id < 150
        """,
        "bpe_token_ops": """
            SELECT count(*) AS n_docs,
                   TRUE AS windows_ok,
                   TRUE AS pack_blocks_full,
                   TRUE AS pack_docs_covered,
                   TRUE AS pack_total_ok,
                   CAST(24 AS INTEGER) AS n_merges
            FROM documents
            WHERE doc_id < 150
        """,
        "extract_fields": """
            SELECT o_orderkey,
                   'M' || cast(o_orderkey AS VARCHAR) AS model,
                   cast((o_custkey % 100) * 1000 AS BIGINT) AS parameters,
                   cast(o_orderkey % 512 + 1 AS BIGINT) AS h_number,
                   cast(2000 + o_custkey % 20 AS BIGINT) AS year,
                   'HW ' || cast(o_orderkey % 5 AS VARCHAR) AS hardware_text
            FROM orders
        """,
        "jaro_winkler": """
            SELECT n_name, r_name, round(jaro_winkler_similarity(n_name, r_name), 6) AS jw
            FROM nation CROSS JOIN region
        """,
        "upsert_merge": """
            SELECT c_custkey,
                   CASE WHEN c_custkey % 10 = 0 THEN c_acctbal * 2 ELSE c_acctbal END AS c_acctbal
            FROM customer
        """,
        "physics_complete": """
            SELECT o_orderkey AS id_paper,
                   cast(floor(1024 * ((o_totalprice * 1e15) / (((cast(o_orderkey % 8 + 1 AS INTEGER) * 300.0) * 1e12) * 0.30) / 3600.0)) AS BIGINT) AS hours_b,
                   cast(floor(1024 * ((0.4 * cast(o_orderkey % 8 + 1 AS INTEGER))
                         * ((o_totalprice * 1e15) / (((cast(o_orderkey % 8 + 1 AS INTEGER) * 300.0) * 1e12) * 0.30) / 3600.0)
                         * 1.20)) AS BIGINT) AS kwh_b,
                   CASE WHEN o_custkey % 3 = 0 THEN
                        cast(floor(1024 * (((0.4 * cast(o_orderkey % 8 + 1 AS INTEGER))
                              * ((o_totalprice * 1e15) / (((cast(o_orderkey % 8 + 1 AS INTEGER) * 300.0) * 1e12) * 0.30) / 3600.0)
                              * 1.20) * (415.0 / 1000.0))) AS BIGINT)
                        WHEN o_custkey % 3 = 1 THEN
                        cast(floor(1024 * (((0.4 * cast(o_orderkey % 8 + 1 AS INTEGER))
                              * ((o_totalprice * 1e15) / (((cast(o_orderkey % 8 + 1 AS INTEGER) * 300.0) * 1e12) * 0.30) / 3600.0)
                              * 1.20) * (50.0 / 1000.0))) AS BIGINT)
                        ELSE NULL END AS co2_b
            FROM orders
        """,
        "eval_char_summary": """
            SELECT cast(n_nationkey % 3 AS INTEGER) AS category,
                   count(*) AS n,
                   round(avg(levenshtein(n_name, r_name)), 6) AS mean_lev,
                   round(avg(jaro_winkler_similarity(n_name, r_name)), 6) AS mean_jw,
                   round(avg(CASE WHEN n_name = r_name THEN 1 ELSE 0 END), 6) AS exact_rate
            FROM nation CROSS JOIN region
            GROUP BY 1
        """,
        "sessionize": """
            WITH marked AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS b
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), sess AS (
                SELECT user_id, ts, value,
                       cast(sum(b) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
                FROM marked
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   cast(sum(cast(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
            FROM sess GROUP BY user_id, session_id
        """,
        "asof_join": """
            SELECT l.event_id, l.user_id, round(r.value, 6) AS signup_value
            FROM events l
            ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'signup') r
            ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "cube_agg": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   cast(sum(cast(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "rollup_agg": """
            SELECT year(o_orderdate) AS yr, o_orderpriority, count(*) AS n
            FROM orders GROUP BY ROLLUP (yr, o_orderpriority)
        """,
        "pivot": """
            SELECT l_returnflag,
                   cast(sum(CASE WHEN l_linestatus = 'O' THEN cast(l_quantity AS BIGINT) END) AS BIGINT) AS qty_o,
                   cast(sum(CASE WHEN l_linestatus = 'F' THEN cast(l_quantity AS BIGINT) END) AS BIGINT) AS qty_f
            FROM lineitem GROUP BY l_returnflag
        """,
        "gopher_flags": """
            WITH w AS (
                SELECT doc_id, text,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS words,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+')) END AS n_words
                FROM documents
            )
            SELECT doc_id,
                   (n_words >= 50 AND n_words <= 100000) AS word_count_ok,
                   (CASE WHEN n_words > 0
                         THEN cast(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / n_words
                         ELSE 0.0 END >= 3.0
                    AND
                    CASE WHEN n_words > 0
                         THEN cast(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / n_words
                         ELSE 0.0 END <= 10.0) AS mean_word_len_ok,
                   (CASE WHEN n_words > 0
                         THEN cast(len(list_filter(words, x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE) / n_words
                         ELSE 0.0 END <= 0.1) AS symbol_ratio_ok,
                   (len(list_filter(words, x -> x IN ('the','be','to','of','and','that','have','with'))) >= 2) AS stopword_ok,
                   ((n_words >= 50 AND n_words <= 100000)
                    AND (CASE WHEN n_words > 0
                              THEN cast(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / n_words
                              ELSE 0.0 END >= 3.0
                         AND CASE WHEN n_words > 0
                              THEN cast(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / n_words
                              ELSE 0.0 END <= 10.0)
                    AND (CASE WHEN n_words > 0
                              THEN cast(len(list_filter(words, x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE) / n_words
                              ELSE 0.0 END <= 0.1)
                    AND (CASE WHEN len(string_split(text, chr(10))) > 0
                              THEN cast(len(list_filter(string_split(text, chr(10)),
                                        l -> starts_with(trim(l), '-') OR starts_with(trim(l), '*'))) AS DOUBLE)
                                   / len(string_split(text, chr(10)))
                              ELSE 0.0 END <= 0.9)
                    AND (len(list_filter(words, x -> x IN ('the','be','to','of','and','that','have','with'))) >= 2)
                   ) AS passes
            FROM w
        """,
        "lang_id": """
            WITH h AS (
                SELECT doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') AS words
                FROM documents
            ), scored AS (
                SELECT doc_id,
                       unnest(['en','es','de','fr']) AS lang,
                       unnest([
                           len(list_filter(words, x -> x IN ('the','and','of','to','is'))),
                           len(list_filter(words, x -> x IN ('el','la','de','que','los'))),
                           len(list_filter(words, x -> x IN ('der','die','und','das','ist'))),
                           len(list_filter(words, x -> x IN ('le','la','et','les','des')))
                       ]) AS hits
                FROM h
            ), ranked AS (
                SELECT doc_id, lang, hits,
                       row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
                FROM scored
            )
            SELECT doc_id, CASE WHEN hits > 0 THEN lang ELSE 'und' END AS lang_guess
            FROM ranked WHERE rn = 1
        """,
        "histogram": """
            SELECT cast(floor(value / 10) AS BIGINT) AS bucket, count(*) AS n
            FROM events GROUP BY 1
        """,
        "time_buckets": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
                   event_type,
                   count(*) AS n,
                   cast(sum(cast(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events GROUP BY 1, 2
        """,
        "token_windows": """
            WITH w AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS words,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n
                FROM documents
            )
            SELECT doc_id,
                   cast(i AS INTEGER) AS window_idx,
                   array_to_string(words[cast(i AS INTEGER) * 10 + 1 :
                                         least(cast(i AS INTEGER) * 10 + 20, n)], ' ') AS window_text
            FROM (
                SELECT doc_id, words, n,
                       unnest(range(0, CASE WHEN n <= 20 THEN 1
                                  ELSE cast(ceil((n - 20) / 10.0) AS INTEGER) + 1 END)) AS i
                FROM w
            )
        """,
        "encode_dedupe": """
            SELECT doc_id, 16 AS dim FROM documents
        """,
        "sql_api": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS BIGINT) * 100 -
                            CAST(FLOOR(l_quantity * l_discount * 100) AS BIGINT)) AS BIGINT) AS disc_qty_cents
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        # The dedup/ANN family is oracled on planted-duplicate corpora: the
        # oracle computes the TRUE answer (all-pairs n-gram Jaccard, planted
        # exact-copy sets, planted query-neighbors), so a hash match proves
        # the LSH/banding/probing achieved exact recall on this corpus.
        "minhash_near_dups": """
            WITH docs500 AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
            corpus AS (
              SELECT doc_id, text FROM docs500
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text || ' tail edit' AS text FROM docs500
            ),
            toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                                 w -> length(w) > 0) AS t
              FROM corpus
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                     END AS s
              FROM toks
            ),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   CAST(n_common AS INTEGER) AS n_common,
                   CAST(sa.n + sb.n - n_common AS INTEGER) AS n_union
            FROM common
            JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = id_a
            JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = id_b
            WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.6
        """,
        "simhash_near_dups": """
            SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, CAST(0 AS INTEGER) AS hamming
            FROM documents WHERE doc_id < 500
        """,
        "embedding_near_dups": """
            SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, 1.0 AS cosine_r
            FROM embeddings WHERE vec_id < 1000
        """,
        "lsh_topk": """
            SELECT CAST(0 AS BIGINT) AS vec_id, 1.0 AS cosine_r
            UNION ALL
            SELECT 1000000 + CAST(i AS BIGINT), 1.0 FROM generate_series(0, 8) t(i)
        """,
        "lsh_topk_bucketed": """
            SELECT CAST(0 AS BIGINT) AS vec_id, 1.0 AS cosine_r
            UNION ALL
            SELECT 1000000 + CAST(i AS BIGINT), 1.0 FROM generate_series(0, 8) t(i)
        """,
        "ivf_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                         (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)), 5) AS cosine_r
            FROM embeddings
            ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
                     (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC, vec_id
            LIMIT 10
        """,
        "zorder_box": """
            SELECT l_orderkey, l_linenumber, true AS pruned_some
            FROM lineitem
            WHERE l_quantity BETWEEN 10.0 AND 20.0
              AND l_extendedprice BETWEEN 20000.0 AND 40000.0
        """,
        "incremental_dedup": """
            WITH fp AS (
              SELECT doc_id,
                     md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                              '\\s+', ' ', 'g'))) AS fingerprint
              FROM documents
            ),
            prior AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id < 100),
            batch AS (
              SELECT doc_id, fingerprint FROM fp WHERE doc_id >= 50 AND doc_id < 200
              UNION ALL
              SELECT 10150 AS doc_id, fingerprint FROM fp WHERE doc_id = 150
            ),
            inbatch AS (
              SELECT doc_id, fingerprint FROM (
                SELECT doc_id, fingerprint,
                       row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
                FROM batch
              ) WHERE rn = 1
            )
            SELECT doc_id, fingerprint, CAST(0 AS BIGINT) AS second_run_survivors
            FROM inbatch
            WHERE fingerprint NOT IN (SELECT fingerprint FROM prior)
        """,
        "grouped_corr": """
            SELECT l_returnflag,
                   count(*) AS n,
                   CAST(floor(corr(l_quantity, l_extendedprice) * 1e6) AS BIGINT) AS corr_qty_price_u,
                   CAST(floor(covar_samp(l_quantity, l_discount) * 1e6) AS BIGINT) AS covar_qty_disc_u
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "ngram_jaccard": """
            WITH docs200 AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
            corpus AS (
              SELECT doc_id, text FROM docs200
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text || ' tail edit' AS text FROM docs200
            ),
            toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                                 w -> length(w) > 0) AS t
              FROM corpus
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                     END AS s
              FROM toks
            ),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            sizes AS (SELECT doc_id, len(s) AS n FROM sh)
            SELECT id_a, id_b,
                   CAST(n_common AS INTEGER) AS n_common,
                   CAST(sa.n + sb.n - n_common AS INTEGER) AS n_union
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_common / (sa.n + sb.n - n_common) >= 0.6
        """,
        "tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                       w -> length(w) > 0)) AS term
              FROM documents
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
            ),
            dfreq AS (
              SELECT term, count(*) AS df_t FROM tf GROUP BY term
            ),
            n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     tf.tf * (ln((n.n_docs + 1) / (dfreq.df_t + 1)) + 1) AS score
              FROM tf JOIN dfreq USING (term) CROSS JOIN n
            ),
            ranked AS (
              SELECT doc_id, term, tf,
                     CAST(floor(score * 1e6) AS BIGINT) AS score_u,
                     row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
              FROM scored
            )
            SELECT doc_id, term, tf, score_u, rnk FROM ranked WHERE rnk <= 3
        """,
        "qa_spans": """
            WITH one_hit AS (
              SELECT doc_id, string_split(text, ' ') AS t,
                     list_position(string_split(text, ' '), 'table') AS i,
                     len(string_split(text, ' ')) AS n
              FROM documents
              WHERE len(list_filter(string_split(text, ' '), w -> w = 'table')) = 1
            ),
            spans AS (
              SELECT doc_id,
                     array_to_string(t[greatest(1, i - 1) : least(n, i + 1)], ' ') AS a3,
                     array_to_string(t[greatest(1, i - 3) : least(n, i + 3)], ' ') AS a7,
                     array_to_string(t[greatest(1, i - 15) : least(n, i + 15)], ' ') AS a30
              FROM one_hit
            )
            SELECT doc_id, a3 AS answer,
                   CAST(len(list_distinct([a3, a7, a30])) AS INTEGER) AS n_candidates
            FROM spans
        """,
        "grouped_median": """
            SELECT event_type,
                   median(CAST(floor(value * 100) AS BIGINT)) AS median_cents,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "ntile": """
            SELECT event_id, event_type,
                   CAST(ntile(4) OVER (PARTITION BY event_type
                                       ORDER BY value, event_id) AS INTEGER) AS quartile
            FROM events
        """,
        "moving_avg": """
            SELECT user_id, event_id,
                   floor(CAST(sum(cents) OVER w AS DOUBLE) / count(cents) OVER w * 1e4) / 1e6
                       AS moving_avg
            FROM (SELECT user_id, event_id,
                         CAST(floor(value * 100) AS BIGINT) AS cents FROM events)
            WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        """,
        "pq_codes": """
            WITH v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id < 500
            ),
            cb AS (SELECT vec_id AS c, e AS ce FROM v WHERE vec_id < 4),
            q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
            pairs AS (
              SELECT v.vec_id, s.j, cb.c,
                     list_sum(list_transform(range(1, 17),
                       i -> (v.e[s.j*16 + i] - cb.ce[s.j*16 + i])
                            * (v.e[s.j*16 + i] - cb.ce[s.j*16 + i]))) AS dist,
                     list_sum(list_transform(range(1, 17),
                       i -> (q.qe[s.j*16 + i] - cb.ce[s.j*16 + i])
                            * (q.qe[s.j*16 + i] - cb.ce[s.j*16 + i]))) AS qdist
              FROM v, generate_series(0, 3) s(j), cb, q
            ),
            best AS (
              SELECT vec_id, j, c, qdist,
                     row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
              FROM pairs
            ),
            codes AS (SELECT vec_id, j, c, qdist FROM best WHERE rn = 1)
            SELECT vec_id,
                   CAST(MAX(CASE WHEN j = 0 THEN c END) AS INTEGER) AS c0,
                   CAST(MAX(CASE WHEN j = 1 THEN c END) AS INTEGER) AS c1,
                   CAST(MAX(CASE WHEN j = 2 THEN c END) AS INTEGER) AS c2,
                   CAST(MAX(CASE WHEN j = 3 THEN c END) AS INTEGER) AS c3,
                   CAST(floor(
                     (((MAX(CASE WHEN j = 0 THEN qdist END)
                        + MAX(CASE WHEN j = 1 THEN qdist END))
                        + MAX(CASE WHEN j = 2 THEN qdist END))
                        + MAX(CASE WHEN j = 3 THEN qdist END)) * 1000000
                   ) AS BIGINT) AS adc_micro
            FROM codes GROUP BY vec_id
        """,
        "hist_incremental": """
            WITH live AS (
              SELECT value FROM events
              WHERE event_id < 1000 AND event_id % 5 != 0 AND value IS NOT NULL
            ),
            b AS (
              SELECT LEAST(GREATEST(CAST(floor((value - 0.0) / 400.0 * 200) AS INT), 0), 199) AS bin
              FROM live
            ),
            h AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
            c AS (SELECT bin, cnt,
                         sum(cnt) OVER (ORDER BY bin) AS cum,
                         sum(cnt) OVER () AS n
                  FROM h),
            qs AS (SELECT CAST(col0 AS DOUBLE) AS q
                   FROM (VALUES (0.5), (0.9), (0.99))),
            hit AS (
              SELECT qs.q, c.bin, c.cnt, c.cum, c.n,
                     row_number() OVER (PARTITION BY qs.q ORDER BY c.bin) AS rn
              FROM qs JOIN c ON c.cum >= qs.q * c.n
            )
            SELECT q,
                   CAST(floor((0.0 + (bin + (n * q - (cum - cnt)) / cnt) * 2.0) * 1000000) AS BIGINT) AS est_micro,
                   'full|incremental|incremental' AS refresh_modes
            FROM hit WHERE rn = 1
        """,
        "hist_quantiles": """
            WITH b AS (
              SELECT LEAST(GREATEST(CAST(floor((o_totalprice - 0.0) / 600000.0 * 1000) AS INT), 0), 999) AS bin
              FROM orders WHERE o_totalprice IS NOT NULL
            ),
            h AS (SELECT bin, count(*) AS cnt FROM b GROUP BY bin),
            c AS (SELECT bin, cnt,
                         sum(cnt) OVER (ORDER BY bin) AS cum,
                         sum(cnt) OVER () AS n
                  FROM h),
            qs AS (SELECT CAST(col0 AS DOUBLE) AS q
                   FROM (VALUES (0.5), (0.9), (0.99))),
            hit AS (
              SELECT qs.q, c.bin, c.cnt, c.cum, c.n,
                     row_number() OVER (PARTITION BY qs.q ORDER BY c.bin) AS rn
              FROM qs JOIN c ON c.cum >= qs.q * c.n
            )
            SELECT q,
                   CAST(floor((0.0 + (bin + (n * q - (cum - cnt)) / cnt) * 600.0) * 1000000) AS BIGINT) AS est_micro
            FROM hit WHERE rn = 1
        """,
        "heavy_hitters": """
            WITH keyed AS (
              SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'HOT'
                          WHEN o_orderkey % 7 = 1 THEN 'WARM'
                          ELSE 'cust-' || CAST(o_custkey AS VARCHAR) END AS k
              FROM orders
            ),
            tot AS (SELECT count(*) AS n FROM keyed WHERE k IS NOT NULL)
            SELECT k, count(*) AS cnt, (SELECT n FROM tot) AS total_rows
            FROM keyed WHERE k IS NOT NULL
            GROUP BY k
            HAVING count(*) >= ceil(0.01 * (SELECT n FROM tot))
        """,
        "expectations": """
            WITH o AS (SELECT * FROM orders WHERE o_orderkey % 7 = 0),
            good AS (
              SELECT count(*) AS n FROM o
              WHERE coalesce(o_totalprice < 200000, FALSE)
                AND coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE)
                AND coalesce(regexp_matches(o_orderpriority, '^[12]'), FALSE)
            )
            SELECT o_orderkey, 'price_under_200k' AS rule,
                   (SELECT n FROM good) AS good_rows
            FROM o WHERE NOT coalesce(o_totalprice < 200000, FALSE)
            UNION ALL
            SELECT o_orderkey, 'status_known',
                   (SELECT n FROM good)
            FROM o WHERE NOT coalesce(o_orderstatus IN ('O', 'F', 'P'), FALSE)
            UNION ALL
            SELECT o_orderkey, 'priority_urgentish',
                   (SELECT n FROM good)
            FROM o WHERE NOT coalesce(regexp_matches(o_orderpriority, '^[12]'), FALSE)
        """,
        "rollback": """
            SELECT doc_id,
                   md5(coalesce(text, '')) AS text_md5,
                   (SELECT count(*) FROM documents
                    WHERE doc_id >= 100 AND doc_id < 120) AS overwritten_still_readable
            FROM documents
            WHERE doc_id < 50 AND NOT (doc_id >= 10 AND doc_id < 20)
        """,
        "changelog": """
            SELECT doc_id,
                   md5(coalesce(text, '')) AS text_md5,
                   'insert' AS change_type
            FROM documents WHERE doc_id >= 50 AND doc_id < 100
            UNION ALL
            SELECT doc_id,
                   md5(coalesce(text, '')) AS text_md5,
                   'delete' AS change_type
            FROM documents WHERE doc_id >= 10 AND doc_id < 20
        """,
        "ivfadc_rerank": """
            WITH v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id < 500
            ),
            co AS (SELECT vec_id AS cc, e AS ce FROM v WHERE vec_id < 2),
            ad AS (
              SELECT v.vec_id, co.cc,
                     list_sum(list_transform(range(1, 65),
                       i -> (v.e[i] - co.ce[i]) * (v.e[i] - co.ce[i]))) AS d
              FROM v, co
            ),
            asg AS (
              SELECT vec_id, cc AS cl FROM (
                SELECT vec_id, cc,
                       row_number() OVER (PARTITION BY vec_id ORDER BY d, cc) AS rn
                FROM ad
              ) WHERE rn = 1
            ),
            res AS (
              SELECT v.vec_id, asg.cl,
                     list_transform(range(1, 65), i -> v.e[i] - co.ce[i]) AS r
              FROM v JOIN asg USING (vec_id) JOIN co ON co.cc = asg.cl
            ),
            cb AS (SELECT vec_id - 2 AS c, r AS cr FROM res WHERE vec_id BETWEEN 2 AND 5),
            q AS (SELECT e AS qe FROM v WHERE vec_id = 7),
            probe AS (
              SELECT cc FROM (
                SELECT co.cc,
                       row_number() OVER (ORDER BY list_sum(list_transform(range(1, 65),
                         i -> (q.qe[i] - co.ce[i]) * (q.qe[i] - co.ce[i]))), co.cc) AS rn
                FROM co, q
              ) WHERE rn = 1
            ),
            pairs AS (
              SELECT res.vec_id, res.cl, s.j, cb.c,
                     list_sum(list_transform(range(1, 17),
                       i -> (res.r[s.j*16 + i] - cb.cr[s.j*16 + i])
                            * (res.r[s.j*16 + i] - cb.cr[s.j*16 + i]))) AS dist,
                     list_sum(list_transform(range(1, 17),
                       i -> ((q.qe[s.j*16 + i] - co.ce[s.j*16 + i]) - cb.cr[s.j*16 + i])
                            * ((q.qe[s.j*16 + i] - co.ce[s.j*16 + i]) - cb.cr[s.j*16 + i]))) AS qdist
              FROM res, generate_series(0, 3) s(j), cb, q, co
              WHERE co.cc = res.cl AND res.cl = (SELECT cc FROM probe)
            ),
            best AS (
              SELECT vec_id, j, qdist,
                     row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
              FROM pairs
            ),
            adc AS (
              SELECT vec_id,
                     (((MAX(CASE WHEN j = 0 THEN qdist END)
                        + MAX(CASE WHEN j = 1 THEN qdist END))
                        + MAX(CASE WHEN j = 2 THEN qdist END))
                        + MAX(CASE WHEN j = 3 THEN qdist END)) AS adc
              FROM best WHERE rn = 1 GROUP BY vec_id
            ),
            cand AS (SELECT vec_id FROM adc ORDER BY adc, vec_id LIMIT 30),
            exact AS (
              SELECT v.vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> (v.e[i] - q.qe[i]) * (v.e[i] - q.qe[i]))) AS dist2
              FROM v JOIN cand USING (vec_id), q
            )
            SELECT vec_id,
                   CAST(floor(dist2 * 1000000) AS BIGINT) AS exact_micro,
                   CAST(row_number() OVER (ORDER BY dist2, vec_id) AS INT) AS rank
            FROM exact ORDER BY dist2, vec_id LIMIT 10
        """,
        "pq_residual_codes": """
            WITH v AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
              FROM embeddings WHERE vec_id < 500
            ),
            co AS (SELECT vec_id AS cc, e AS ce FROM v WHERE vec_id < 2),
            ad AS (
              SELECT v.vec_id, co.cc,
                     list_sum(list_transform(range(1, 65),
                       i -> (v.e[i] - co.ce[i]) * (v.e[i] - co.ce[i]))) AS d
              FROM v, co
            ),
            asg AS (
              SELECT vec_id, cc AS cl FROM (
                SELECT vec_id, cc,
                       row_number() OVER (PARTITION BY vec_id ORDER BY d, cc) AS rn
                FROM ad
              ) WHERE rn = 1
            ),
            res AS (
              SELECT v.vec_id, asg.cl,
                     list_transform(range(1, 65), i -> v.e[i] - co.ce[i]) AS r
              FROM v JOIN asg USING (vec_id) JOIN co ON co.cc = asg.cl
            ),
            cb AS (SELECT vec_id - 2 AS c, r AS cr FROM res WHERE vec_id BETWEEN 2 AND 5),
            q AS (SELECT e AS qe FROM v WHERE vec_id = 7),
            pairs AS (
              SELECT res.vec_id, res.cl, s.j, cb.c,
                     list_sum(list_transform(range(1, 17),
                       i -> (res.r[s.j*16 + i] - cb.cr[s.j*16 + i])
                            * (res.r[s.j*16 + i] - cb.cr[s.j*16 + i]))) AS dist,
                     list_sum(list_transform(range(1, 17),
                       i -> ((q.qe[s.j*16 + i] - co.ce[s.j*16 + i]) - cb.cr[s.j*16 + i])
                            * ((q.qe[s.j*16 + i] - co.ce[s.j*16 + i]) - cb.cr[s.j*16 + i]))) AS qdist
              FROM res, generate_series(0, 3) s(j), cb, q, co
              WHERE co.cc = res.cl
            ),
            best AS (
              SELECT vec_id, cl, j, c, qdist,
                     row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
              FROM pairs
            ),
            codes AS (SELECT vec_id, cl, j, c, qdist FROM best WHERE rn = 1)
            SELECT vec_id,
                   CAST(any_value(cl) AS INTEGER) AS cluster,
                   CAST(MAX(CASE WHEN j = 0 THEN c END) AS INTEGER) AS c0,
                   CAST(MAX(CASE WHEN j = 1 THEN c END) AS INTEGER) AS c1,
                   CAST(MAX(CASE WHEN j = 2 THEN c END) AS INTEGER) AS c2,
                   CAST(MAX(CASE WHEN j = 3 THEN c END) AS INTEGER) AS c3,
                   CAST(floor(
                     (((MAX(CASE WHEN j = 0 THEN qdist END)
                        + MAX(CASE WHEN j = 1 THEN qdist END))
                        + MAX(CASE WHEN j = 2 THEN qdist END))
                        + MAX(CASE WHEN j = 3 THEN qdist END)) * 1000000
                   ) AS BIGINT) AS adc_micro
            FROM codes GROUP BY vec_id
        """,
        "grouped_mad": """
            WITH med AS (
              SELECT event_type, quantile_cont(value, 0.5) AS m
              FROM events GROUP BY event_type
            )
            SELECT e.event_type,
                   CAST(floor(any_value(med.m) * 1000000) AS BIGINT) AS median_micro,
                   CAST(floor(quantile_cont(abs(e.value - med.m), 0.5) * 1000000) AS BIGINT)
                     AS mad_micro
            FROM events e
            JOIN med ON e.event_type IS NOT DISTINCT FROM med.event_type
            GROUP BY e.event_type
        """,
        "semantic_pairs": """
            SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, 1.0 AS cosine_r
            FROM embeddings WHERE vec_id < 500
        """,
        "unicode_nfc": """
            SELECT doc_id,
                   nfc_normalize(text || ' e' || chr(769) || ' a' || chr(778) ||
                                 ' o' || chr(776) || ' final') AS nfc_text,
                   length(text || ' e' || chr(769) || ' a' || chr(778) ||
                          ' o' || chr(776) || ' final') AS len_before,
                   length(nfc_normalize(text || ' e' || chr(769) || ' a' || chr(778) ||
                          ' o' || chr(776) || ' final')) AS len_after
            FROM documents
        """,
        "length_batches": """
            WITH base AS (
              SELECT doc_id, length(text) AS n_tokens,
                     (CAST(1 AS BIGINT) << CAST(ceil(log2(CAST(greatest(length(text), 1) AS DOUBLE))) AS INTEGER))
                       AS bucket_cap
              FROM documents
            ),
            rn AS (
              SELECT *, row_number() OVER (PARTITION BY bucket_cap ORDER BY doc_id) - 1 AS r
              FROM base
            )
            SELECT doc_id, n_tokens, bucket_cap,
                   CAST(bucket_cap AS VARCHAR) || '_' ||
                     CAST(r // (2048 // bucket_cap) AS VARCHAR) AS batch_id,
                   r % (2048 // bucket_cap) AS slot,
                   bucket_cap AS padded_len
            FROM rn
        """,
        "corpus_card": """
            SELECT 'count_by_lang' AS section, coalesce(lang, '<null>') AS key,
                   count(*) AS value
            FROM documents GROUP BY lang
            UNION ALL
            SELECT 'count_by_source', coalesce(source, '<null>'), count(*)
            FROM documents GROUP BY source
            UNION ALL
            SELECT 'chars', k, v FROM (
              SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS total,
                     CAST(floor(avg(length(coalesce(text, ''))) * 1000000) AS BIGINT) AS avg_micro,
                     CAST(floor(quantile_cont(length(coalesce(text, '')), 0.5) * 1000000) AS BIGINT) AS p50_micro,
                     CAST(max(length(coalesce(text, ''))) AS BIGINT) AS max
              FROM documents
            ) UNPIVOT (v FOR k IN (n_docs, total, avg_micro, p50_micro, max))
            UNION ALL
            SELECT 'tokens', k, v FROM (
              SELECT CAST(count(*) AS BIGINT) AS total,
                     CAST(count(DISTINCT t) AS BIGINT) AS "distinct"
              FROM (
                SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                              w -> length(w) > 0)) AS t
                FROM documents
              )
            ) UNPIVOT (v FOR k IN (total, "distinct"))
            UNION ALL
            SELECT 'dupes', k, v FROM (
              SELECT CAST(count(*) AS BIGINT) AS dup_groups,
                     CAST(coalesce(sum(n), 0) AS BIGINT) AS docs_in_dup_groups
              FROM (
                SELECT md5(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                           '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS f,
                       count(*) AS n
                FROM documents GROUP BY 1 HAVING count(*) > 1
              )
            ) UNPIVOT (v FOR k IN (dup_groups, docs_in_dup_groups))
            UNION ALL
            SELECT 'empty', 'empty_docs',
                   CAST(sum(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 1 ELSE 0 END) AS BIGINT)
            FROM documents
        """,
        "near_dup_prune": """
            WITH RECURSIVE docs500 AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
            corpus AS (
              SELECT doc_id, text FROM docs500
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text || ' tail edit' AS text FROM docs500
            ),
            toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                                 w -> length(w) > 0) AS t
              FROM corpus
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                     END AS s
              FROM toks
            ),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            edges AS (
              SELECT id_a, id_b
              FROM common
              JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = id_a
              JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = id_b
              WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.6
            ),
            und AS (
              SELECT id_a AS u, id_b AS v FROM edges
              UNION ALL
              SELECT id_b AS u, id_a AS v FROM edges
            ),
            reach(id, n) AS (
              SELECT DISTINCT u AS id, u AS n FROM und
              UNION
              SELECT reach.id, und.v FROM reach JOIN und ON und.u = reach.n
            )
            ,
            labels AS (SELECT id, min(n) AS component FROM reach GROUP BY id),
            sizes AS (SELECT component, count(*) AS cluster_size FROM labels GROUP BY component)
            SELECT c.doc_id,
                   coalesce(s.cluster_size, 1) AS cluster_size
            FROM corpus c
            LEFT JOIN labels l ON l.id = c.doc_id
            LEFT JOIN sizes s ON s.component = c.doc_id
            WHERE l.id IS NULL OR l.component = c.doc_id
        """,
        "dedup_components": """
            WITH RECURSIVE docs500 AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
            corpus AS (
              SELECT doc_id, text FROM docs500
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text || ' tail edit' AS text FROM docs500
            ),
            toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                                 w -> length(w) > 0) AS t
              FROM corpus
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                     END AS s
              FROM toks
            ),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            edges AS (
              SELECT id_a, id_b
              FROM common
              JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = id_a
              JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = id_b
              WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.6
            ),
            und AS (
              SELECT id_a AS u, id_b AS v FROM edges
              UNION ALL
              SELECT id_b AS u, id_a AS v FROM edges
            ),
            reach(id, n) AS (
              SELECT DISTINCT u AS id, u AS n FROM und
              UNION
              SELECT reach.id, und.v FROM reach JOIN und ON und.u = reach.n
            )
            SELECT id, min(n) AS component FROM reach GROUP BY id
        """,
        "range_join": """
            WITH wins(win, start, stop) AS (
              VALUES (0, TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 10:00:00'),
                  (1, TIMESTAMP '2024-01-02 12:00:00', TIMESTAMP '2024-01-02 22:00:00'),
                  (2, TIMESTAMP '2024-01-04 00:00:00', TIMESTAMP '2024-01-04 10:00:00'),
                  (3, TIMESTAMP '2024-01-05 12:00:00', TIMESTAMP '2024-01-05 22:00:00'),
                  (4, TIMESTAMP '2024-01-07 00:00:00', TIMESTAMP '2024-01-07 10:00:00'),
                  (5, TIMESTAMP '2024-01-08 12:00:00', TIMESTAMP '2024-01-08 22:00:00'),
                  (6, TIMESTAMP '2024-01-10 00:00:00', TIMESTAMP '2024-01-10 10:00:00'),
                  (7, TIMESTAMP '2024-01-11 12:00:00', TIMESTAMP '2024-01-11 22:00:00'),
                  (8, TIMESTAMP '2024-01-13 00:00:00', TIMESTAMP '2024-01-13 10:00:00'),
                  (9, TIMESTAMP '2024-01-14 12:00:00', TIMESTAMP '2024-01-14 22:00:00'),
                  (10, TIMESTAMP '2024-01-16 00:00:00', TIMESTAMP '2024-01-16 10:00:00'),
                  (11, TIMESTAMP '2024-01-17 12:00:00', TIMESTAMP '2024-01-17 22:00:00'),
                  (12, TIMESTAMP '2024-01-19 00:00:00', TIMESTAMP '2024-01-19 10:00:00'),
                  (13, TIMESTAMP '2024-01-20 12:00:00', TIMESTAMP '2024-01-20 22:00:00'),
                  (14, TIMESTAMP '2024-01-22 00:00:00', TIMESTAMP '2024-01-22 10:00:00'),
                  (15, TIMESTAMP '2024-01-23 12:00:00', TIMESTAMP '2024-01-23 22:00:00'),
                  (16, TIMESTAMP '2024-01-25 00:00:00', TIMESTAMP '2024-01-25 10:00:00'),
                  (17, TIMESTAMP '2024-01-26 12:00:00', TIMESTAMP '2024-01-26 22:00:00'),
                  (18, TIMESTAMP '2024-01-28 00:00:00', TIMESTAMP '2024-01-28 10:00:00'),
                  (19, TIMESTAMP '2024-01-29 12:00:00', TIMESTAMP '2024-01-29 22:00:00')
            )
            SELECT e.event_id, w.win, e.event_type
            FROM events e JOIN wins w
              ON e.ts >= w.start AND e.ts <= w.stop
        """,
        "exact_dup_groups": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 500
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 500
              UNION ALL
              SELECT doc_id + 2000000, upper(text) || '!!!' FROM documents WHERE doc_id < 500
            )
            SELECT md5(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                       '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS fingerprint,
                   count(*) AS n_dups,
                   array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
            FROM corpus GROUP BY 1 HAVING count(*) > 1
        """,
        "jpeg_decode": """
            SELECT i AS media_id,
                   round(CAST((i * 20) % 256 AS DOUBLE) / 255, 9) AS mean_r,
                   round(CAST((i * 45 + 10) % 256 AS DOUBLE) / 255, 9) AS mean_g,
                   round(CAST((i * 70 + 5) % 256 AS DOUBLE) / 255, 9) AS mean_b,
                   FALSE AS failed
            FROM generate_series(0, 11) t(i)
            UNION ALL
            SELECT 99, NULL, NULL, NULL, TRUE
        """,
        "jpeg_progressive": """
            SELECT i AS media_id,
                   round(CAST((i * 31) % 256 AS DOUBLE) / 255, 9) AS mean_r,
                   round(CAST((i * 57 + 20) % 256 AS DOUBLE) / 255, 9) AS mean_g,
                   round(CAST((i * 83 + 7) % 256 AS DOUBLE) / 255, 9) AS mean_b,
                   FALSE AS failed
            FROM generate_series(0, 9) t(i)
            UNION ALL
            SELECT 50, round(77.0/255, 9), round(77.0/255, 9), round(77.0/255, 9), FALSE
            UNION ALL
            SELECT 99, NULL, NULL, NULL, TRUE
        """,
        "substring_dup_spans": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000,
                     'PLANT-' || CAST(doc_id AS VARCHAR) || ' >> ' ||
                     substr(text, 1, 150) || ' << END'
              FROM documents WHERE doc_id < 50
            ),
            pos0 AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, length(text) - 39)) AS pos
              FROM corpus WHERE length(text) >= 40
            ),
            pos AS (
              SELECT doc_id, pos,
                     md5(substr(text, CAST(pos AS INTEGER), 40)) AS fp
              FROM pos0
            ),
            hot AS (SELECT fp FROM pos GROUP BY fp HAVING count(*) >= 2),
            marked AS (SELECT p.doc_id, p.pos FROM pos p JOIN hot USING (fp)),
            isl AS (
              SELECT doc_id, pos,
                     CASE WHEN pos > coalesce(max(pos + 40) OVER (
                          PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                          THEN 1 ELSE 0 END AS newi
              FROM marked
            ),
            isl2 AS (
              SELECT doc_id, pos, sum(newi) OVER (
                     PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
              FROM isl
            )
            SELECT doc_id, min(pos) AS span_start, max(pos) + 40 AS span_end,
                   max(pos) + 40 - min(pos) AS span_len
            FROM isl2 GROUP BY doc_id, island
        """,
        "table_diff": """
            SELECT 'changed' AS change, doc_id, upper(text) AS text
            FROM documents WHERE doc_id < 10
            UNION ALL
            SELECT 'removed', doc_id, text FROM documents
            WHERE doc_id BETWEEN 50 AND 59
            UNION ALL
            SELECT 'added', doc_id, text FROM documents
            WHERE doc_id >= 100 AND doc_id < 120
        """,
        "winsorize": """
            WITH bounds AS (
              SELECT event_type,
                     quantile_cont(value, 0.1) AS plo,
                     quantile_cont(value, 0.9) AS phi
              FROM events GROUP BY event_type
            )
            SELECT e.event_id, e.event_type,
                   CAST(floor(least(greatest(e.value, b.plo), b.phi) * 1000000) AS BIGINT)
                     AS winsor_micro
            FROM events e
            JOIN bounds b ON e.event_type IS NOT DISTINCT FROM b.event_type
        """,
        "mor_delete": """
            SELECT doc_id, text, TRUE AS invariants_ok
            FROM documents
            WHERE doc_id < 100 AND doc_id NOT BETWEEN 10 AND 19
            UNION ALL
            SELECT doc_id, text, TRUE FROM documents
            WHERE doc_id >= 100 AND doc_id < 150
            UNION ALL
            SELECT 15, 'REINSERTED-15', TRUE
        """,
        "weighted_sample": """
            WITH keyed AS (
              SELECT doc_id, lang,
                     ln( (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|42'), 1, 15))::BIGINT + 1)
                         / 1152921504606846976.0 )
                       / (1.0 + length(text)) AS k
              FROM documents
            ),
            ranked AS (
              SELECT doc_id, lang,
                     CAST(row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id)
                          AS INTEGER) AS sample_rank
              FROM keyed
            )
            SELECT doc_id, lang, sample_rank FROM ranked WHERE sample_rank <= 50
        """,
        "cm_incremental": """
            WITH ii AS (SELECT unnest(generate_series(0, 3)) AS i),
            cells AS (
              SELECT ii.i,
                     ('0x' || substr(md5(CAST(ii.i AS VARCHAR) || '|' ||
                          CAST(o.o_custkey AS VARCHAR)), 1, 8))::BIGINT % 512 AS bucket,
                     count(*) AS cnt
              FROM orders o, ii
              WHERE o.o_custkey IS NOT NULL
              GROUP BY 1, 2
            ),
            cand AS (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey IS NOT NULL),
            probes AS (
              SELECT c.o_custkey, ii.i,
                     ('0x' || substr(md5(CAST(ii.i AS VARCHAR) || '|' ||
                          CAST(c.o_custkey AS VARCHAR)), 1, 8))::BIGINT % 512 AS bucket
              FROM cand c, ii
            )
            SELECT p.o_custkey, CAST(min(coalesce(cl.cnt, 0)) AS BIGINT) AS est,
                   'full,incremental' AS refresh_modes
            FROM probes p LEFT JOIN cells cl ON p.i = cl.i AND p.bucket = cl.bucket
            GROUP BY p.o_custkey
        """,
        "cm_sketch": """
            WITH ii AS (SELECT unnest(generate_series(0, 3)) AS i),
            cells AS (
              SELECT ii.i,
                     ('0x' || substr(md5(CAST(ii.i AS VARCHAR) || '|' ||
                          CAST(o.o_custkey AS VARCHAR)), 1, 8))::BIGINT % 512 AS bucket,
                     count(*) AS cnt
              FROM orders o, ii
              WHERE o.o_custkey IS NOT NULL
              GROUP BY 1, 2
            ),
            cand AS (SELECT DISTINCT o_custkey FROM orders WHERE o_custkey IS NOT NULL),
            probes AS (
              SELECT c.o_custkey, ii.i,
                     ('0x' || substr(md5(CAST(ii.i AS VARCHAR) || '|' ||
                          CAST(c.o_custkey AS VARCHAR)), 1, 8))::BIGINT % 512 AS bucket
              FROM cand c, ii
            )
            SELECT p.o_custkey, CAST(min(coalesce(cl.cnt, 0)) AS BIGINT) AS est
            FROM probes p LEFT JOIN cells cl ON p.i = cl.i AND p.bucket = cl.bucket
            GROUP BY p.o_custkey
        """,
        "hll_distinct": f"""
            WITH h AS (
              SELECT o_orderpriority, md5(CAST(o_custkey AS VARCHAR)) AS hx
              FROM orders WHERE o_custkey IS NOT NULL
            ),
            r AS (
              SELECT o_orderpriority,
                     ('0x' || substr(hx, 1, 4))::BIGINT % 256 AS register,
                     substr(hx, 5, 15) AS sub
              FROM h
            ),
            rho AS (
              SELECT o_orderpriority, register,
                     CAST(4 * length(regexp_extract(sub, '^0*'))
                      + CASE upper(substr(sub, length(regexp_extract(sub, '^0*')) + 1, 1))
                          WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                          WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                          WHEN '7' THEN 1 ELSE 0 END
                      + 1 AS INTEGER) AS rho
              FROM r
            ),
            regs AS (
              SELECT o_orderpriority, register, max(rho) AS max_rho
              FROM rho GROUP BY 1, 2
            ),
            agg AS (
              SELECT o_orderpriority,
                     sum(CASE WHEN max_rho <= 48
                              THEN 281474976710656 >> max_rho ELSE 0 END) AS seen_sum,
                     count(*) AS n_seen
              FROM regs GROUP BY 1
            ),
            est AS (
              SELECT o_orderpriority,
                     {_hll_num} / CAST(seen_sum + (256 - n_seen) * 281474976710656
                                       AS DOUBLE) AS raw,
                     256 - n_seen AS zeros
              FROM agg
            )
            SELECT o_orderpriority,
                   CAST(floor(CASE WHEN raw <= 640.0 AND zeros > 0
                                   THEN 256.0 * ln(256.0 / zeros)
                                   ELSE raw END * 1e6) AS BIGINT) AS est_micro,
                   (raw <= 640.0 AND zeros > 0) AS used_linear_counting
            FROM est
        """,
        "hll_incremental": """
            WITH h AS (
              SELECT lang, md5(CAST(doc_id AS VARCHAR)) AS hx
              FROM documents WHERE doc_id < 500 AND doc_id IS NOT NULL
            ),
            r AS (
              SELECT lang,
                     ('0x' || substr(hx, 1, 4))::BIGINT % 256 AS register,
                     substr(hx, 5, 15) AS sub
              FROM h
            ),
            rho AS (
              SELECT lang, register,
                     CAST(4 * length(regexp_extract(sub, '^0*'))
                      + CASE upper(substr(sub, length(regexp_extract(sub, '^0*')) + 1, 1))
                          WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                          WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                          WHEN '7' THEN 1 ELSE 0 END
                      + 1 AS INTEGER) AS rho
              FROM r
            ),
            regs AS (
              SELECT lang, register, max(rho) AS max_rho FROM rho GROUP BY 1, 2
            ),
            agg AS (
              SELECT lang,
                     sum(CASE WHEN max_rho <= 48
                              THEN 281474976710656 >> max_rho ELSE 0 END) AS seen_sum,
                     count(*) AS n_seen
              FROM regs GROUP BY 1
            ),
            est AS (
              SELECT lang,
                     {{_hll_num}} / CAST(seen_sum + (256 - n_seen) * 281474976710656
                                       AS DOUBLE) AS raw,
                     256 - n_seen AS zeros
              FROM agg
            )
            SELECT lang,
                   CAST(floor(CASE WHEN raw <= 640.0 AND zeros > 0
                                   THEN 256.0 * ln(256.0 / zeros)
                                   ELSE raw END * 1e6) AS BIGINT) AS est_micro,
                   (raw <= 640.0 AND zeros > 0) AS used_linear_counting,
                   'full,incremental' AS refresh_modes
            FROM est
        """.replace("{{_hll_num}}", _hll_num),
        "bloom_anti": """
            SELECT o.o_orderkey, o.o_custkey
            FROM orders o
            WHERE NOT EXISTS (
              SELECT 1 FROM customer c
              WHERE c.c_custkey = o.o_custkey AND c.c_custkey % 7 = 0
            )
        """,
        "stats_pruned_read": """
            WITH sliced AS (
              SELECT o_orderkey, o_totalprice,
                     ntile(4) OVER (ORDER BY o_orderkey) AS slice
              FROM orders
            ),
            lims AS (
              SELECT CAST(floor(0.30 * max(o_orderkey)) AS BIGINT) AS lo,
                     CAST(floor(0.45 * max(o_orderkey)) AS BIGINT) AS hi
              FROM orders
            ),
            slice_stats AS (
              SELECT slice, min(o_orderkey) AS mn, max(o_orderkey) AS mx
              FROM sliced GROUP BY slice
            ),
            scanned AS (
              SELECT count(*) AS n FROM slice_stats, lims
              WHERE mx >= lo AND mn <= hi
            )
            SELECT s.o_orderkey, s.o_totalprice,
                   (SELECT n FROM scanned) AS n_files_scanned,
                   CAST(4 AS BIGINT) AS n_files_total
            FROM sliced s, lims l
            WHERE s.o_orderkey BETWEEN l.lo AND l.hi
        """,
        "domain_mixture": """
            WITH total AS (SELECT count(*) AS n_total FROM documents),
            counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
            z AS (SELECT sum(pow(n, 0.5)) AS z FROM counts),
            rates AS (
              SELECT c.lang, (2.0 * t.n_total) * pow(c.n, 0.5) / z.z / c.n AS w
              FROM counts c, z, total t
            ),
            picked AS (
              SELECT d.doc_id, d.lang,
                     CAST(least(floor(r.w), 10) AS INTEGER)
                     + CASE WHEN floor(r.w) < 10
                             AND substr(md5(CAST(d.doc_id AS VARCHAR) || '|42'), 1, 4)
                                 < lpad(lower(to_hex(CAST(floor((r.w - floor(r.w)) * 65536) AS INTEGER))), 4, '0')
                            THEN 1 ELSE 0 END AS copies
              FROM documents d
              JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang
            )
            SELECT doc_id, lang,
                   unnest(generate_series(0, copies - 1)) AS copy
            FROM picked WHERE copies >= 1
        """,
        "bm25": """
            WITH q(query_id, qtext) AS (
              VALUES (1, 'merge sort join'), (2, 'spark filter customer'),
                     (3, 'window hash scan')
            ),
            toks AS (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                            w -> length(w) > 0)) AS term
              FROM documents
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
            stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            qt AS (
              SELECT DISTINCT query_id, term FROM (
                SELECT query_id,
                       unnest(list_filter(regexp_split_to_array(lower(trim(qtext)), '[^a-z0-9]+'),
                              w -> length(w) > 0)) AS term
                FROM q)
            )
            SELECT qt.query_id, tf.doc_id,
                   CAST(floor(sum(
                     ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                     * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
                   ) * 1000000) AS BIGINT) AS score_micro
            FROM qt
            JOIN tf USING (term)
            JOIN df USING (term)
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats s
            GROUP BY qt.query_id, tf.doc_id
        """,
        "minhash_incremental": f"""
            WITH base AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 60
              UNION ALL
              SELECT doc_id + 1000000 AS doc_id, text || ' tail edit' AS text
              FROM documents WHERE doc_id < 20
            ),
            batch2 AS (
              SELECT doc_id FROM documents WHERE doc_id >= 40 AND doc_id < 60
              UNION ALL
              SELECT doc_id + 1000000 FROM documents WHERE doc_id < 20
            ),
            toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                                 w -> length(w) > 0) AS t
              FROM base WHERE text IS NOT NULL
            ),
            tk AS (SELECT doc_id, t FROM toks WHERE len(t) > 0),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                     END AS s
              FROM tk
            ),
            hs AS (
              SELECT doc_id,
                     list_transform(s, g -> ('0x' || substr(md5(g), 1, 15))::BIGINT % {MINHASH_P}) AS h
              FROM sh
            ),
            sig AS (
              SELECT doc_id,
                     list_transform({_mh_ab},
                       p -> list_min(list_transform(h, x -> (p[1]*x + p[2]) % {MINHASH_P}))) AS sig
              FROM hs
            ),
            banded AS (
              SELECT doc_id, i - 1 AS band_idx,
                     array_to_string(list_transform(sig[(i-1)*2+1 : (i-1)*2+2],
                                                    x -> x::VARCHAR), ',') AS band_key
              FROM sig, unnest(generate_series(1, 8)) AS u(i)
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM banded a
              JOIN banded b
                ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
              WHERE a.doc_id IN (SELECT doc_id FROM batch2)
                 OR b.doc_id IN (SELECT doc_id FROM batch2)
            ),
            verified AS (
              SELECT c.id_a, c.id_b,
                     len(list_filter(generate_series(1, 16),
                                     i -> sa.sig[i] = sb.sig[i])) AS n_matches
              FROM cand c
              JOIN sig sa ON sa.doc_id = c.id_a
              JOIN sig sb ON sb.doc_id = c.id_b
            ),
            probed AS (
              SELECT count(DISTINCT
                       ((('0x' || substr(md5(band_idx::VARCHAR || '|' || band_key), 1, 4))::BIGINT
                         % 16))::INT) AS n
              FROM banded WHERE doc_id IN (SELECT doc_id FROM batch2)
            )
            SELECT id_a, id_b, CAST(n_matches AS INT) AS n_matches,
                   CAST(0 AS INT) AS replay_new_docs,
                   (SELECT CAST(n AS INT) FROM probed) AS buckets_probed,
                   CAST(8 AS INT) AS min_matches
            FROM verified WHERE n_matches >= 8
        """,
        "bm25_incremental": """
            WITH q(query_id, qtext) AS (
              VALUES (1, 'merge sort join'), (2, 'spark filter customer'),
                     (3, 'window hash scan')
            ),
            toks AS (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                            w -> length(w) > 0)) AS term
              FROM documents
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
            stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
            df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            qt AS (
              SELECT DISTINCT query_id, term FROM (
                SELECT query_id,
                       unnest(list_filter(regexp_split_to_array(lower(trim(qtext)), '[^a-z0-9]+'),
                              w -> length(w) > 0)) AS term
                FROM q)
            ),
            probe AS (
              SELECT count(DISTINCT CAST('0x' || substr(md5(term), 1, 4) AS INT) % 16) AS npb
              FROM (SELECT DISTINCT term FROM qt)
            )
            SELECT qt.query_id, tf.doc_id,
                   CAST(floor(sum(
                     ln(1 + (s.n - df.df + 0.5) / (df.df + 0.5))
                     * (tf.tf * 2.2) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
                   ) * 1000000) AS BIGINT) AS score_micro,
                   'full,incremental' AS post_modes,
                   CAST(any_value(probe.npb) AS INTEGER) AS n_probe_buckets,
                   16 AS n_total_buckets
            FROM qt
            JOIN tf USING (term)
            JOIN df USING (term)
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats s
            CROSS JOIN probe
            GROUP BY qt.query_id, tf.doc_id
        """,
        "rollup_refresh": """
            WITH ev AS (
              SELECT event_id, event_type,
                     CAST(floor(value * 1000000) AS BIGINT)
                       + CASE WHEN event_id < 5 THEN 1000000000 ELSE 0 END AS v_micro
              FROM events
            ),
            pre AS (
              SELECT event_type,
                     count(*) AS n,
                     sum(v_micro) AS sum_v_micro,
                     min(v_micro) AS min_v_micro,
                     max(v_micro) AS max_v_micro
              FROM ev GROUP BY event_type
            ),
            post AS (
              SELECT event_type,
                     count(*) AS n_after_delete,
                     sum(v_micro) AS sum_after_delete
              FROM ev WHERE event_id >= 10 GROUP BY event_type
            )
            SELECT pre.event_type, n, sum_v_micro, min_v_micro, max_v_micro,
                   post.n_after_delete, post.sum_after_delete,
                   'full|incremental|incremental|full' AS refresh_modes,
                   'full|incremental' AS delete_leg_modes
            FROM pre LEFT JOIN post ON pre.event_type = post.event_type
        """,
        "substring_strip": """
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000,
                     'PLANT-' || CAST(doc_id AS VARCHAR) || ' >> ' ||
                     substr(text, 1, 150) || ' << END'
              FROM documents WHERE doc_id < 50
            ),
            pos0 AS (
              SELECT doc_id, text,
                     unnest(generate_series(1, length(text) - 39)) AS pos
              FROM corpus WHERE length(text) >= 40
            ),
            pos AS (
              SELECT doc_id, pos,
                     md5(substr(text, CAST(pos AS INTEGER), 40)) AS fp
              FROM pos0
            ),
            ranked AS (
              SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY fp) AS n,
                     row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
              FROM pos
            ),
            marked AS (SELECT doc_id, pos FROM ranked WHERE n >= 2 AND rn > 1),
            isl AS (
              SELECT doc_id, pos,
                     CASE WHEN pos > coalesce(max(pos + 40) OVER (
                          PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                          THEN 1 ELSE 0 END AS newi
              FROM marked
            ),
            isl2 AS (
              SELECT doc_id, pos, sum(newi) OVER (
                     PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
              FROM isl
            ),
            spans AS (
              SELECT doc_id, island, min(pos) AS s, max(pos) + 40 AS e
              FROM isl2 GROUP BY doc_id, island
            ),
            wseg AS (
              SELECT doc_id, s, e,
                     coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS prev_e
              FROM spans
            ),
            pieces AS (
              SELECT w.doc_id,
                     string_agg(substr(c.text, CAST(w.prev_e AS INTEGER),
                                       CAST(w.s - w.prev_e AS INTEGER)),
                                '' ORDER BY w.s) AS mid,
                     max(w.e) AS last_e
              FROM wseg w JOIN corpus c ON c.doc_id = w.doc_id
              GROUP BY w.doc_id
            )
            SELECT c.doc_id,
                   CASE WHEN p.doc_id IS NULL THEN c.text
                        ELSE p.mid || substr(c.text, CAST(p.last_e AS INTEGER)) END
                     AS cleaned_text,
                   length(c.text) - length(CASE WHEN p.doc_id IS NULL THEN c.text
                        ELSE p.mid || substr(c.text, CAST(p.last_e AS INTEGER)) END)
                     AS removed_chars
            FROM corpus c LEFT JOIN pieces p ON p.doc_id = c.doc_id
        """,
        "sink_roundtrip": """
            SELECT 'parquet' AS sink, n_nationkey, n_name, n_regionkey FROM nation
            UNION ALL
            SELECT 'parquet', n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey < 3
            UNION ALL
            SELECT 'csv', n_nationkey, n_name, n_regionkey FROM nation
        """,
        "vocab_stats": """
            WITH toks AS (
              SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                            w -> length(w) > 0)) AS w
              FROM documents WHERE doc_id < 500
            ),
            per_word AS (SELECT w, count(*) AS n FROM toks GROUP BY w)
            SELECT sum(n) AS total_tokens,
                   count(*) AS distinct_tokens,
                   sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS hapax_count,
                   CAST(floor(count(*) * 1000000.0 / sum(n)) AS BIGINT) AS ttr_micro
            FROM per_word
        """,
        "grouped_quantiles": """
            SELECT event_type,
                   CAST(floor(quantile_cont(value, 0.25) * 1000000) AS BIGINT) AS p25_micro,
                   CAST(floor(quantile_cont(value, 0.50) * 1000000) AS BIGINT) AS p50_micro,
                   CAST(floor(quantile_cont(value, 0.75) * 1000000) AS BIGINT) AS p75_micro
            FROM events GROUP BY event_type
        """,
        "window_suite": """
            SELECT o_orderkey, o_custkey,
                   rank() OVER wr AS rnk,
                   dense_rank() OVER wr AS drnk,
                   round(percent_rank() OVER wr, 9) AS prnk,
                   lag(o_orderkey) OVER wo AS prev_key,
                   lead(o_orderkey) OVER wo AS next_key
            FROM orders WHERE o_orderkey <= 4000
            WINDOW wr AS (PARTITION BY o_custkey ORDER BY CAST(floor(o_totalprice / 50000) AS BIGINT) DESC),
                   wo AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        """,
        "collapse_lines": """
            WITH base AS (
              SELECT doc_id,
                     'Menu' || chr(10) || 'Menu' || chr(10) || 'Menu' || chr(10)
                       || coalesce(text, '') || chr(10) || 'footer' || chr(10) || 'footer' AS text
              FROM documents WHERE doc_id < 500
            ),
            lined AS (SELECT doc_id, string_split(text, chr(10)) AS l FROM base),
            expl AS (
              SELECT doc_id, i AS idx, l[i] AS line, trim(l[i]) AS lnt
              FROM lined, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) g
            ),
            marked AS (
              SELECT doc_id, idx, line,
                     (lag(lnt) OVER (PARTITION BY doc_id ORDER BY idx) IS NULL
                      OR lnt <> lag(lnt) OVER (PARTITION BY doc_id ORDER BY idx)
                      OR length(lnt) = 0) AS keep
              FROM expl
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY idx)
                            FILTER (WHERE keep), '') AS text_clean,
                   count(*) AS n_lines,
                   sum(CASE WHEN keep THEN 0 ELSE 1 END) AS n_collapsed
            FROM marked GROUP BY doc_id
        """,
        "canonical_urls": """
            SELECT o_orderkey AS k,
                   CASE
                     WHEN o_orderkey % 5 = 0 THEN 'http://ex' || o_orderkey || '.com/P' || o_orderkey || '?q=' || o_orderkey
                     WHEN o_orderkey % 5 = 1 THEN 'https://ex' || o_orderkey || '.com/a'
                     WHEN o_orderkey % 5 = 2 THEN 'https://ex' || o_orderkey || '.com/a?q=' || o_orderkey || '&r=2'
                     WHEN o_orderkey % 5 = 3 THEN NULL
                     ELSE 'https://ex' || o_orderkey || '.com/'
                   END AS canon
            FROM orders WHERE o_orderkey <= 2000
        """,
        "pdf_layout": """
            SELECT i AS doc_id,
                   'left ' || i || ' a' || chr(10) ||
                   'left ' || i || ' b' || chr(10) ||
                   'right ' || i || ' a' || chr(10) || chr(10) ||
                   'tail ' || i || chr(10) AS text
            FROM generate_series(0, 19) t(i)
        """,
        "clean_convert": """
            WITH messy AS (
              SELECT o_orderkey AS k,
                     CASE WHEN o_orderkey % 4 = 0 THEN '  ' || format('{:,}', o_orderkey * 1000) || '  '
                          WHEN o_orderkey % 4 = 1 THEN ''
                          WHEN o_orderkey % 4 = 2 THEN 'n/a'
                          ELSE '-42' END AS raw,
                     o_totalprice - 100000 AS watts
              FROM orders WHERE o_orderkey <= 2000
            )
            SELECT k,
                   nullif(trim(raw), '') AS cleaned,
                   try_cast(replace(trim(raw), ',', '') AS DOUBLE) AS as_float,
                   CAST(try_cast(replace(trim(raw), ',', '') AS DOUBLE) AS BIGINT) AS as_int,
                   round(greatest(watts * 0.001, 0.0), 6) AS kw_clipped
            FROM messy
        """,
        "answer_agg_modes": """
            WITH base AS (
              SELECT doc_id % 40 AS g, doc_id AS o,
                     substr(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'), 1, 30) AS a,
                     CAST(doc_id % 5 AS DOUBLE) AS s
              FROM documents WHERE doc_id < 500
            ),
            ranked_best AS (
              SELECT g, a, row_number() OVER (PARTITION BY g ORDER BY s DESC, o ASC) AS rn
              FROM base
            ),
            ranked_long AS (
              SELECT g, a, row_number() OVER (PARTITION BY g ORDER BY length(a) DESC, o ASC) AS rn
              FROM base
            )
            SELECT 'best' AS mode, g, a AS answer FROM ranked_best WHERE rn = 1
            UNION ALL
            SELECT 'longest', g, a FROM ranked_long WHERE rn = 1
            UNION ALL
            SELECT 'concat', g,
                   coalesce(string_agg(a, ' ' ORDER BY o) FILTER (WHERE a IS NOT NULL AND a <> ''), '')
            FROM base GROUP BY g
        """,
        "time_travel": """
            WITH base AS (
              SELECT o_orderkey AS k, o_totalprice AS v FROM orders WHERE o_orderkey <= 20
            ),
            merged AS (
              SELECT k, CASE WHEN k <= 10 THEN v * 2 ELSE v END AS v FROM base
              UNION ALL
              SELECT o_orderkey + 1000000, o_totalprice FROM orders WHERE o_orderkey <= 2
            )
            SELECT 'v1' AS snap, k, v FROM base
            UNION ALL
            SELECT 'v2' AS snap, k, v FROM merged
        """,
        "boilerplate_lines": """
            WITH base AS (
              SELECT doc_id,
                     'Subscribe to our newsletter!' || chr(10) || coalesce(text, '')
                       || CASE WHEN doc_id < 2 THEN chr(10) || 'rare footer line' ELSE '' END AS text
              FROM documents WHERE doc_id < 500
            ),
            lined AS (
              SELECT doc_id, string_split(coalesce(text, ''), chr(10)) AS l FROM base
            ),
            expl AS (
              SELECT doc_id, i AS idx, l[i] AS line, trim(l[i]) AS lnt
              FROM lined, LATERAL (SELECT unnest(generate_series(1, len(l))) AS i) g
            ),
            freq AS (
              SELECT lnt, count(DISTINCT doc_id) AS df
              FROM expl WHERE length(lnt) >= 1 GROUP BY 1
            ),
            kept AS (
              SELECT e.doc_id, e.idx, e.line,
                     (length(e.lnt) >= 1 AND coalesce(f.df, 0) <= 2) AS keep
              FROM expl e LEFT JOIN freq f ON e.lnt = f.lnt
            )
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY idx)
                            FILTER (WHERE keep), '') AS text_clean,
                   count(*) AS n_lines,
                   coalesce(sum(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS n_lines_kept
            FROM kept GROUP BY doc_id
        """,
        "bigram_lm_score": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                                 w -> length(w) > 0) AS t
              FROM documents WHERE doc_id < 500
            ),
            bi AS (
              SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
              FROM toks, LATERAL (
                SELECT unnest(generate_series(1, len(t) - 1)) AS i
              ) g
              WHERE len(t) >= 2
            ),
            lm12 AS (SELECT w1, w2, count(*) AS n12 FROM bi GROUP BY 1, 2),
            uni AS (
              SELECT w1, count(*) AS n1
              FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1
            ),
            v AS (SELECT count(*) AS v FROM uni),
            scored AS (
              SELECT b.doc_id,
                     avg(ln((coalesce(l.n12, 0) + 1.0)
                            / (coalesce(u.n1, 0) + 1.0 * v.v))) AS lm_score,
                     count(*) AS n_bigrams
              FROM bi b
              LEFT JOIN lm12 l ON b.w1 = l.w1 AND b.w2 = l.w2
              LEFT JOIN uni u ON b.w1 = u.w1
              CROSS JOIN v
              GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(floor(s.lm_score * 10000) AS BIGINT) AS lm_score_q,
                   coalesce(s.n_bigrams, 0) AS n_bigrams
            FROM (SELECT DISTINCT doc_id FROM documents WHERE doc_id < 500) d
            LEFT JOIN scored s ON d.doc_id = s.doc_id
        """,
        "pack_blocks": """
            WITH counts AS (
              SELECT doc_id,
                     CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n
              FROM documents
            ),
            pos AS (
              SELECT doc_id, n,
                     coalesce(sum(n) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
              FROM counts WHERE n > 0
            )
            SELECT p.doc_id,
                   b.block_id,
                   greatest(0, b.block_id * 512 - p.start) AS doc_offset,
                   greatest(0, p.start - b.block_id * 512) AS block_offset,
                   least(p.n, (b.block_id + 1) * 512 - p.start)
                     - greatest(0, b.block_id * 512 - p.start) AS n_tokens
            FROM pos p
            JOIN LATERAL (
              SELECT unnest(generate_series(CAST(p.start // 512 AS BIGINT),
                                            CAST((p.start + p.n - 1) // 512 AS BIGINT))) AS block_id
            ) b ON TRUE
        """,
        "curation_funnel": """
            WITH w AS (
              SELECT doc_id, text,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS words,
                     CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+')) END AS n_words
              FROM documents
            ),
            quality AS (
              SELECT doc_id, text FROM w
              WHERE (n_words >= 50 AND n_words <= 100000)
                AND (CASE WHEN n_words > 0
                          THEN cast(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / n_words
                          ELSE 0.0 END BETWEEN 3.0 AND 10.0)
                AND (CASE WHEN n_words > 0
                          THEN cast(len(list_filter(words, x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE) / n_words
                          ELSE 0.0 END <= 0.1)
                AND (CASE WHEN len(string_split(text, chr(10))) > 0
                          THEN cast(len(list_filter(string_split(text, chr(10)),
                                    l -> starts_with(trim(l), '-') OR starts_with(trim(l), '*'))) AS DOUBLE)
                               / len(string_split(text, chr(10)))
                          ELSE 0.0 END <= 0.9)
                AND (len(list_filter(words, x -> x IN ('the','be','to','of','and','that','have','with'))) >= 2)
            ),
            fp AS (
              SELECT doc_id, text,
                     md5(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                         '[^a-z0-9]+', ' ', 'g'), '\\s+', ' ', 'g'))) AS f
              FROM quality
            ),
            exact AS (
              SELECT doc_id, text FROM fp
              WHERE (f, doc_id) IN (SELECT (f, min(doc_id)) FROM fp GROUP BY f)
            ),
            toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                                 w2 -> length(w2) > 0) AS t
              FROM exact
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                     END AS s
              FROM toks
            ),
            ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
            common AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
              FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            ),
            drops AS (
              SELECT DISTINCT id_b AS doc_id
              FROM common
              JOIN (SELECT doc_id, len(s) AS n FROM sh) sa ON sa.doc_id = id_a
              JOIN (SELECT doc_id, len(s) AS n FROM sh) sb ON sb.doc_id = id_b
              WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.85
            ),
            near AS (
              SELECT e.doc_id, e.text FROM exact e
              WHERE e.doc_id NOT IN (SELECT doc_id FROM drops)
            ),
            bench_toks AS (
              SELECT list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                                 w2 -> length(w2) > 0) AS t
              FROM documents WHERE doc_id < 50
            ),
            bench AS (
              SELECT DISTINCT g FROM (
                SELECT unnest(CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
                             ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
                                    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END) AS g
                FROM bench_toks
              )
            ),
            near_sh AS (
              SELECT n2.doc_id,
                     CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                     END AS s
              FROM near n2
              JOIN (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                                               w2 -> length(w2) > 0) AS t
                    FROM near) tt ON tt.doc_id = n2.doc_id
            ),
            contaminated AS (
              SELECT doc_id
              FROM (SELECT doc_id, count(DISTINCT g) AS c
                    FROM (SELECT doc_id, unnest(s) AS g FROM near_sh) e2
                    JOIN bench USING (g)
                    GROUP BY doc_id)
              WHERE c >= 10
            )
            SELECT n3.doc_id, CAST(length(n3.text) AS INTEGER) AS n_chars
            FROM near n3
            WHERE n3.doc_id NOT IN (SELECT doc_id FROM contaminated)
        """,
        "stratified_sample": """
            SELECT doc_id, lang
            FROM documents
            WHERE (lang = 'es')
               OR (lang = 'en' AND substring(md5(CAST(doc_id AS VARCHAR) || '|' || '42'), 1, 4)
                   < '8000')
               OR (lang = 'de' AND substring(md5(CAST(doc_id AS VARCHAR) || '|' || '42'), 1, 4)
                   < '4000')
        """,
        "repetition": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                                 w -> length(w) > 0) AS t
              FROM documents
            ),
            base AS (
              SELECT doc_id,
                     len(t) AS n_words,
                     len(list_distinct(t)) AS n_distinct_words,
                     CASE WHEN len(t) >= 2
                          THEN list_transform(generate_series(1, len(t) - 1),
                                               i -> t[i] || ' ' || t[i+1])
                          ELSE [] END AS bg
              FROM toks
            ),
            hist AS (
              SELECT doc_id, max(c) AS top_bigram_n, sum(c) AS n_bigrams
              FROM (SELECT doc_id, g, count(*) AS c
                    FROM (SELECT doc_id, unnest(bg) AS g FROM base)
                    GROUP BY doc_id, g)
              GROUP BY doc_id
            )
            SELECT b.doc_id,
                   CAST(b.n_words AS INTEGER) AS n_words,
                   CAST(b.n_distinct_words AS INTEGER) AS n_distinct_words,
                   CASE WHEN b.n_words > 0
                        THEN 1.0 - CAST(b.n_distinct_words AS DOUBLE) / b.n_words
                        ELSE 0.0 END AS dup_word_ratio,
                   CAST(coalesce(h.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
                   CAST(coalesce(h.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   CASE WHEN coalesce(h.n_bigrams, 0) > 0
                        THEN CAST(h.top_bigram_n AS DOUBLE) / h.n_bigrams
                        ELSE 0.0 END AS top_bigram_share
            FROM base b LEFT JOIN hist h USING (doc_id)
        """,
        "top_terms": """
            SELECT term, count(*) AS n
            FROM (
              SELECT unnest(list_filter(
                       regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                       w -> length(w) > 0)) AS term
              FROM documents
            )
            GROUP BY term
            ORDER BY n DESC, term
            LIMIT 20
        """,
        "contamination": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+'),
                                 w -> length(w) > 0) AS t
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     CASE WHEN len(t) <= 2 THEN [array_to_string(t, ' ')]
                          ELSE list_distinct(list_transform(generate_series(1, len(t) - 2),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                     END AS s
              FROM toks
            ),
            bench AS (SELECT DISTINCT g FROM (SELECT unnest(s) AS g FROM sh WHERE doc_id < 50)),
            hits AS (
              SELECT doc_id, count(DISTINCT g) AS n
              FROM (SELECT doc_id, unnest(s) AS g FROM sh) e
              JOIN bench USING (g)
              GROUP BY doc_id
            )
            SELECT s.doc_id,
                   CAST(coalesce(h.n, 0) AS BIGINT) AS n_overlap,
                   coalesce(h.n, 0) >= 1 AS contaminated
            FROM sh s LEFT JOIN hits h USING (doc_id)
        """,
        "pii_redaction": """
            WITH planted AS (
              SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                          || '.7 ref 12345678' || CAST(doc_id % 10 AS VARCHAR) AS text
              FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS INTEGER) AS n_email,
                   CAST(len(regexp_extract_all(text,
                        '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS INTEGER) AS n_ipv4,
                   CAST(len(regexp_extract_all(text, '\\b[0-9]{9,}\\b')) AS INTEGER) AS n_longnum,
                   regexp_replace(regexp_replace(regexp_replace(text,
                        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '[PII]', 'g'),
                        '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '[PII]', 'g'),
                        '\\b[0-9]{9,}\\b', '[PII]', 'g') AS redacted
            FROM planted
        """,
        "readability": """
            SELECT doc_id,
                   CASE WHEN length(trim(text)) > 0 THEN 1 ELSE 0 END AS n_blocks,
                   (length(trim(text))
                    + 20 * (length(text) - length(replace(text, ',', '')))) > 25.0
                       AS has_main_content
            FROM documents
        """,
    }
