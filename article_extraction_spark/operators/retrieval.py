"""Relational full-text retrieval: inverted index + BM25 ranking.

A curation pipeline needs lexical retrieval constantly — retrieval-based
decontamination (find corpus documents that *answer* an eval query even
when no 13-gram collides), near-duplicate triage, and building
retrieval training pairs. This is the classic Robertson/Spärck Jones
BM25 (the Lucene-default ``ln(1 + (N - df + ½)/(df + ½))`` non-negative
idf variant), expressed entirely as DataFrame algebra:

  * ``build_text_index`` — postings (term, doc_id, tf) + doc lengths,
    one explode + two groupBys over the shared ``alnum_tokens_col``
    vocabulary (the same tokenization every other text operator and its
    DuckDB oracle uses);
  * ``bm25_scores`` — query terms (small; broadcast) equi-join the
    postings on term, per-(query, doc) sum of the BM25 term
    contributions; no UDF, whole-stage codegen throughout;
  * ``bm25_topk`` — per-query window with a total order (score desc,
    doc_id asc) so results are deterministic at any partitioning.

100-TB shape: the postings table is the only large relation and it is
built with map-side-combined groupBys; the scoring join broadcasts the
query-term side (queries ≪ corpus), so postings never shuffle at query
time — the join is a broadcast hash join pruned to matching terms.
Persist the index once (e.g. into a ManifestTable partitioned by term
bucket) and amortize it across every downstream search; the index build
is decomposable, so `IncrementalRollup` semantics apply to keeping
(term, doc) counts fresh under append-only ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..pipeline.partitioning import fan_out_small_scan


def build_text_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(postings, doc_stats): postings = (term, doc_id, tf, dl);
    doc_stats = (doc_id, dl) for every document with ≥1 token. Documents
    tokenizing to nothing carry no postings and no length — they can
    never score, and N/avgdl are defined over scorable docs.

    ``dl`` is DENORMALIZED into the postings (standard search-index
    practice): the doc-length join happens ONCE at build time, so query
    time never shuffles the corpus-wide doc_stats table — scoring reads
    only the pruned postings plus a one-row stats aggregate."""
    terms = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tokens(F.col(text_col))).alias("term"),
    )
    tf = terms.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    doc_stats = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    postings = tf.join(doc_stats, "doc_id").select("term", "doc_id", "tf", "dl")
    return postings, doc_stats


def _tokens(c):
    from ..functions.textnorm import alnum_tokens_col

    return alnum_tokens_col(c)


def bm25_scores(
    postings: DataFrame,
    doc_stats: DataFrame,
    queries: DataFrame,
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    k1: float = 1.2,
    b: float = 0.75,
    corpus_stats: DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, score) for every document sharing ≥1 term with
    the query. Query terms are DISTINCT (the simple BM25 form — repeated
    query terms don't re-count). idf uses the non-negative Lucene
    variant, so a term in >half the corpus contributes little instead of
    negatively.

    ``corpus_stats``: a precomputed one-row (n_docs, avgdl) DataFrame
    (the MaintainedBM25Index serving path stores one) — with it, and dl
    denormalized in the postings, ``doc_stats`` may be None and nothing
    corpus-wide is read at query time."""
    if corpus_stats is None and doc_stats is None:
        raise ValueError("need doc_stats or corpus_stats")
    qterms = queries.select(
        F.col(qid_col).alias("query_id"),
        F.explode(_tokens(F.col(qtext_col))).alias("term"),
    ).distinct()
    # prune the postings to query terms FIRST: df over the pruned set is
    # still the full-corpus document frequency of those terms (a posting
    # row exists per (term, doc) regardless of the query), and the
    # vocabulary-wide df shuffle disappears. dl rides inside the pruned
    # postings (denormalized at build), so the only corpus-sized input
    # touched at query time is the one-row n/avgdl aggregate.
    if "dl" not in postings.columns:  # pre-denormalization index layout
        postings = postings.join(doc_stats, "doc_id")
    pruned = postings.join(F.broadcast(qterms.select("term").distinct()), "term")
    df_t = pruned.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    stats = (
        corpus_stats
        if corpus_stats is not None
        else doc_stats.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    )
    contrib = (
        pruned.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            (
                F.log(
                    1.0
                    + (F.col("n_docs") - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5)
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("contrib"),
        )
    )
    return contrib.groupBy("query_id", "doc_id").agg(F.sum("contrib").alias("score"))


def bm25_topk(
    postings: DataFrame,
    doc_stats: DataFrame,
    queries: DataFrame,
    k: int = 10,
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k per query: (query_id, doc_id, score, rank), ranked by
    (score desc, doc_id asc) — a total order, deterministic at any
    partitioning."""
    scored = bm25_scores(postings, doc_stats, queries, qid_col, qtext_col, k1, b)
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    qid_col: str = "query_id",
    qtext_col: str = "qtext",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """One-shot convenience: build the index and rank. For repeated
    searches, build once with build_text_index and persist."""
    postings, doc_stats = build_text_index(docs, id_col, text_col)
    return bm25_topk(postings, doc_stats, queries, k, qid_col, qtext_col, k1, b)


# ---------------------------------------------------------------------------
# Maintained index (round 6) — the persisted artifact the module docstring
# promised: postings live in ManifestTable rollups kept fresh by
# IncrementalRollup under append-only ingest, and a term-bucket-partitioned
# SERVING layout makes every query a planning-time partition prune.
# ---------------------------------------------------------------------------


def term_bucket_col(term_col, n_buckets: int):
    """Cross-engine-replayable term bucket: first 16 bits of md5(term),
    mod n_buckets. DuckDB replays it verbatim as
    ``CAST('0x' || substr(md5(term), 1, 4) AS INT) % n`` and python as
    ``int(md5(term).hexdigest()[:4], 16) % n`` — all three agree, which
    is what lets the query side compute probe buckets driver-side."""
    c = F.col(term_col) if isinstance(term_col, str) else term_col
    return (F.conv(F.substring(F.md5(c), 1, 4), 16, 10).cast("int") % n_buckets).cast("int")


def _py_term_bucket(term: str, n_buckets: int) -> int:
    import hashlib

    return int(hashlib.md5(term.encode()).hexdigest()[:4], 16) % n_buckets


class MaintainedBM25Index:
    """A BM25 index as a MAINTAINED artifact (VERDICT r5 #5 — the scorer
    used to rebuild the index per call).

    Storage under ``root``:

    * ``terms``    — ManifestTable of (doc_id, term, bucket) token rows:
      the CDC source both rollups read incrementally;
    * ``postings`` — ManifestTable rollup (bucket, term, doc_id) → tf;
    * ``doclens``  — ManifestTable rollup (doc_id) → dl;
    * ``serving``  — hive-partitioned parquet ``bucket=<b>/`` of the
      DENORMALIZED postings (term, doc_id, tf, dl) — the layout queries
      scan with planning-time PartitionFilters;
    * ``stats``    — one-row (n_docs, avgdl) parquet, rewritten per
      ingest, so query time reads nothing corpus-wide.

    ``ingest`` appends a batch, refreshes both rollups via
    IncrementalRollup (bootstrap = full, then CDC deltas only), and
    re-exports ONLY the buckets the batch touched (dynamic partition
    overwrite). The touched/stale bucket set is persisted as a
    write-ahead ``pending_buckets.json`` BEFORE the append and cleared
    only after a successful export (ADVICE r7 medium: a crash between
    append and export let the next refresh fold the batch via its CDC
    cursor while its buckets never re-exported — the serving layout
    silently missed those documents). A doc arriving in pieces changes its dl, which is
    denormalized into every bucket holding one of its terms — those
    stale buckets are detected (doclens overlap probe) and re-exported
    too. Honest 100-TB caveat: a batch containing corpus-common terms
    touches most buckets (inverted-index reality); size ``n_buckets``
    so a bucket rewrite is bounded, or ingest giant batches rarely.
    """

    def __init__(self, root: str, n_buckets: int = 64):
        from ..catalog import ManifestTable
        from ..rollup import IncrementalRollup
        from .index_meta import open_index_meta

        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self.root = root
        open_index_meta(root, {"n_buckets": n_buckets})
        self.n_buckets = n_buckets
        self.terms = ManifestTable(f"{root}/terms")
        self.postings = ManifestTable(f"{root}/postings")
        self.doclens = ManifestTable(f"{root}/doclens")
        self.serving_dir = f"{root}/serving"
        self.stats_dir = f"{root}/stats"
        self._ir_post = IncrementalRollup(
            self.terms, self.postings, ["bucket", "term", "doc_id"], {"tf": ("count", None)}
        )
        self._ir_dl = IncrementalRollup(
            self.terms, self.doclens, ["doc_id"], {"dl": ("count", None)}
        )

    # -- write path -----------------------------------------------------------

    def ingest(
        self, spark, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
    ) -> dict:
        """Index a batch of documents. Returns {"postings_mode",
        "doclens_mode", "buckets_exported"}."""
        # pin the doc-id type in the index meta: the serving read schema is
        # derived from it, so a string-keyed index reads back correctly and
        # a type CHANGE across ingests fails here instead of corrupting the
        # serving layout (review r6)
        from .index_meta import pin_doc_id_type

        pin_doc_id_type(self.root, docs.schema[id_col].dataType.simpleString())
        # r8: tokenization + posting fan-out runs above the scan — fan a
        # small single-split batch out to core count first
        batch = (
            fan_out_small_scan(
                docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
            )
            .select("doc_id", F.explode(_tokens(F.col("text"))).alias("term"))
            .withColumn("bucket", term_bucket_col("term", self.n_buckets))
            .persist()
        )
        try:
            touched = {r["bucket"] for r in batch.select("bucket").distinct().collect()}
            stale: set[int] = set()
            if self.doclens.current_snapshot_id() is not None:
                # docs re-arriving (piecewise ingest) change dl, which is
                # denormalized into every bucket holding one of their terms
                overlap = self.doclens.read(spark).join(
                    batch.select("doc_id").distinct(), "doc_id"
                ).select("doc_id")
                if overlap.limit(1).count() > 0:
                    stale = {
                        r["bucket"]
                        for r in self.postings.read(spark)
                        .join(overlap, "doc_id")
                        .select("bucket")
                        .distinct()
                        .collect()
                    }
            # write-ahead: once the append lands, these buckets MUST reach
            # the serving layout even if this process dies first — carry
            # any earlier crash's leftovers forward too
            pending = self._load_pending() | touched | stale
            self._save_pending(pending)
            self.terms.append(batch)
            s_post = self._ir_post.refresh(spark)
            s_dl = self._ir_dl.refresh(spark)
            full = s_post["mode"] == "full" or s_dl["mode"] == "full"
            affected = None if full else sorted(pending)
            exported = self._export(spark, affected)
            self._save_pending(set())  # export landed; nothing owed
        finally:
            batch.unpersist(blocking=False)
        return {
            "postings_mode": s_post["mode"],
            "doclens_mode": s_dl["mode"],
            "buckets_exported": exported,
        }

    _PENDING = "pending_buckets.json"

    def _load_pending(self) -> set[int]:
        import json as _json
        import os as _os

        try:
            with open(_os.path.join(self.root, self._PENDING)) as f:
                return set(_json.load(f))
        except (OSError, ValueError):
            return set()

    def _save_pending(self, buckets: set[int]) -> None:
        from ..catalog import discard_files, write_json_atomic

        if buckets:
            write_json_atomic(f"{self.root}/{self._PENDING}", sorted(buckets))
        else:
            discard_files(self.root, [self._PENDING])

    def _export(self, spark, affected: list[int] | None) -> int:
        """Sync the serving layout: affected buckets only (dynamic
        partition overwrite), or everything (bootstrap / full-recompute
        fallback — static overwrite so deleted keys can't linger)."""
        post = self.postings.read(spark)
        dl = self.doclens.read(spark)
        rows = post.join(dl, "doc_id").select("bucket", "term", "doc_id", "tf", "dl")
        if affected is not None:
            if not affected:
                return 0
            rows = rows.where(F.col("bucket").isin(affected))
            (
                rows.write.partitionBy("bucket")
                .mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(self.serving_dir)
            )
            n = len(affected)
        else:
            rows.write.partitionBy("bucket").mode("overwrite").parquet(self.serving_dir)
            n = self.n_buckets
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
        ).coalesce(1).write.mode("overwrite").parquet(self.stats_dir)
        return n

    # -- read path ------------------------------------------------------------

    def probe_buckets(self, spark, queries: DataFrame, qtext_col: str = "qtext") -> list[int]:
        """Distinct term buckets of the queries' tokens — computed from
        the COLLECTED query terms (queries ≪ corpus by contract) so the
        bucket filter is literal at planning time and prunes the scan."""
        terms = {
            r["term"]
            for r in queries.select(
                F.explode(_tokens(F.col(qtext_col))).alias("term")
            ).distinct().collect()
        }
        return sorted({_py_term_bucket(t, self.n_buckets) for t in terms})

    def scores(
        self,
        spark,
        queries: DataFrame,
        qid_col: str = "query_id",
        qtext_col: str = "qtext",
        k1: float = 1.2,
        b: float = 0.75,
        schema: str | None = "auto",
    ) -> DataFrame:
        """BM25 scores over the serving layout: the scan is pruned to the
        queries' term buckets at planning time (PartitionFilters — plan-
        asserted in tests), dl rides denormalized, and (n_docs, avgdl)
        come from the stored one-row stats: nothing corpus-wide is read.
        ``schema="auto"`` (default) derives the serving schema from the
        doc-id type pinned at first ingest; pass an explicit DDL string
        to override, or None to infer (small tables only)."""
        if schema == "auto":
            from .index_meta import doc_id_type

            schema = f"term string, doc_id {doc_id_type(self.root)}, tf long, dl long"
        probe = self.probe_buckets(spark, queries, qtext_col)
        if not probe:
            probe = [-1]  # no tokens → empty result, keep the plan shape
        reader = spark.read.schema(schema) if schema is not None else spark.read
        pruned = reader.parquet(self.serving_dir).where(F.col("bucket").isin(probe))
        stats = spark.read.parquet(self.stats_dir)
        return bm25_scores(
            pruned, None, queries, qid_col, qtext_col, k1, b, corpus_stats=stats
        )

    def topk(
        self,
        spark,
        queries: DataFrame,
        k: int = 10,
        qid_col: str = "query_id",
        qtext_col: str = "qtext",
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Top-k per query over the maintained index, (score desc,
        doc_id asc) — same total order as bm25_topk."""
        scored = self.scores(spark, queries, qid_col, qtext_col, k1, b)
        w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
        return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
