"""Substring-level (span) deduplication — repeated passages, not whole
documents.

Whole-document and near-dup operators (operators/dedup.py) miss the most
common real-corpus pathology: the SAME boilerplate paragraph / license
header / quoted passage embedded inside otherwise-distinct documents.
The public remedy (Lee et al. 2021, "Deduplicating Training Data Makes
Language Models Better") is exact substring dedup of all repeats of
length ≥ k. This module is the fully-relational Spark formulation:

1. fingerprint every k-char window — default engine: a Karp–Rabin
   ROLLING hash (O(n) per document, one vectorized mapInPandas pass,
   two independent 64-bit hashes keyed together ≈ 128-bit — see
   :func:`rolling_fingerprints`); legacy ``engine="md5"`` keeps the
   fully-native ``explode(sequence(...))`` + ``substring`` + ``md5``
   formulation (O(n·k) hash bytes — the r5 bench's two heaviest
   entries, hence the engine swap);
2. (scale path) thin the positions with WINNOWING (Schleimer-Wilkerson-
   Aiken 2003, the MOSS algorithm): keep, per sliding window of ``w``
   consecutive k-grams, the (hash, position)-minimal one. Every shared
   substring of length ≥ w+k-1 is still detected — inside the shared
   region the content (hence the hash sequence AND the tie-breaking
   relative offsets) is identical in both copies, so both documents
   select the same k-gram. Fingerprint volume drops to ~2/(w+1) of
   stride-1;
3. duplicated fingerprints = groupBy(fp) with an occurrence count
   (``scope="global"``, catches within-document repetition too) or a
   distinct-document count (``scope="cross_doc"``); an optional
   ``df_cap`` drops ultra-hot fingerprints (site boilerplate) before the
   join back, the same hot-key relief valve ngram_jaccard uses;
4. covered positions → maximal spans by the classic ISLAND merge, again
   pure window functions: a position starts a new island iff it lies
   past the running max end of all preceding spans.

100-TB shape: the only wide shuffles are the fp groupBy + the fp join
back (md5 keys, never text — positions carry (doc_id, pos) only) and the
per-document window for islands; nothing is ever all-pairs, and
winnowing divides the shuffled volume by ~(w+1)/2. The reference has no
analog of this operator; it generalizes the corpus-curation surface
(SURVEY §2's dedup family) the way incremental_exact_dedup did in r4.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..pipeline.partitioning import fan_out_small_scan

# Karp–Rabin bases for the rolling-hash engine: two independent odd
# multipliers mod 2^64. Two hashes joined as one 128-bit key keep the
# birthday bound far past 100-TB gram counts (a single 64-bit key starts
# colliding around 6e9 grams — one mid-sized shard). Odd => invertible
# mod 2^64, which is what makes the prefix trick vectorizable.
_B1 = 0x100000001B3
_B2 = 0x9E3779B97F4A7C15
_MASK64 = (1 << 64) - 1
_INV1 = pow(_B1, -1, 1 << 64)
_INV2 = pow(_B2, -1, 1 << 64)

# geometric power tables, grown on demand and reused across Arrow batches
# (this host page-faults fresh large allocations at ~70 MB/s — see
# BASELINE.md round-2 notes — so the caches are load-bearing, not a nicety)
_POW_CACHE: dict = {}


def _powers(mult: int, n: int):
    """[1, mult, mult^2, ...] mod 2^64, at least n entries, cached."""
    import numpy as np

    arr = _POW_CACHE.get(mult)
    if arr is None or arr.size < n:
        size = max(n, 1 << 16)
        if arr is not None:
            size = max(size, 2 * arr.size)
        new = np.empty(size, np.uint64)
        new[0] = 1
        if size > 1:
            new[1:] = np.uint64(mult & _MASK64)
            np.cumprod(new, out=new)
        _POW_CACHE[mult] = new
        arr = new
    return arr


def _window_hashes(c, kk: int, mult: int, inv: int):
    """All k-gram hashes of code-point array ``c`` in O(n), vectorized.

    With S[i] = Σ_{j<i} c[j]·inv^j (mod 2^64), the normalized window hash
    (S[i+k] − S[i])·mult^i = Σ_m c[i+m]·inv^m is position-independent, so
    equal substrings hash equal anywhere in the corpus. All arithmetic is
    uint64 wraparound (numpy wraps unsigned silently — the one place that
    behavior is a feature)."""
    import numpy as np

    n = c.size
    m = n - kk + 1
    bp = _powers(mult, n + 1)
    ip = _powers(inv, n + 1)
    s = np.empty(n + 1, np.uint64)
    s[0] = 0
    np.cumsum(c * ip[:n], out=s[1:])
    return (s[kk:] - s[:m]) * bp[:m]


def _winnow_select(fp, w: int):
    """Indices kept by winnowing: the leftmost argmin of every window of
    ``w`` consecutive hashes (tail windows shrink, mirroring the SQL
    rowsBetween(0, w-1) frame). O(n) via sliding_window_view + an O(w)
    suffix-argmin walk for the partial tail windows."""
    import numpy as np

    m = fp.size
    if m == 0:
        return np.empty(0, np.int64)
    if m > w:
        sw = np.lib.stride_tricks.sliding_window_view(fp, w)
        full = np.arange(m - w + 1, dtype=np.int64) + sw.argmin(axis=1)
    else:
        full = np.empty(0, np.int64)
    tail_start = max(m - w + 1, 0)
    best = m - 1
    tail = [best]
    for i in range(m - 2, tail_start - 1, -1):
        if fp[i] <= fp[best]:  # <= : leftmost wins ties, matching min(struct(h, pos))
            best = i
        tail.append(best)
    return np.unique(np.concatenate([full, np.asarray(tail, np.int64)]))


def rolling_fingerprints(
    docs: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    winnow: int | None = None,
) -> DataFrame:
    """Every k-char window's Karp–Rabin fingerprints: (doc_id, pos, fp,
    fp2) — the O(n)-per-document replacement for the O(n·k) per-position
    md5 of :func:`substring_positions` (VERDICT r5 #3; Lee et al. 2021
    §3 use rolling/suffix methods for exactly this reason).

    One ``mapInPandas`` pass: code points via a utf-32 view (so ``pos``
    keeps SQL ``substr`` character semantics, 1-based), prefix-sum hash
    per document, optional IN-KERNEL winnowing (``winnow=w`` keeps the
    (fp, pos)-leftmost argmin of each w-window) — which also deletes the
    per-doc window + distinct shuffle stage the native winnow needs.
    fp/fp2 are independent 64-bit hashes; downstream keys on BOTH."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if winnow is not None and winnow < 1:
        raise ValueError(f"winnow window must be >= 1, got {winnow}")
    from pyspark.sql import types as T

    kk = int(k)
    w = int(winnow or 1)
    id_type = docs.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("pos", T.IntegerType()),
            T.StructField("fp", T.LongType()),
            T.StructField("fp2", T.LongType()),
        ]
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        out_id, out_pos, out_f1, out_f2, pending = [], [], [], [], 0

        def flush():
            nonlocal out_id, out_pos, out_f1, out_f2, pending
            if pending:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(out_id),
                        "pos": np.concatenate(out_pos),
                        "fp": np.concatenate(out_f1),
                        "fp2": np.concatenate(out_f2),
                    }
                )
                out_id, out_pos, out_f1, out_f2, pending = [], [], [], [], 0

        for pdf in batches:
            for did, t in zip(pdf["__id"].to_numpy(), pdf["__text"]):
                if not isinstance(t, str) or len(t) < kk:
                    continue
                c = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
                f1 = _window_hashes(c, kk, _B1, _INV1)
                f2 = _window_hashes(c, kk, _B2, _INV2)
                if w > 1:
                    sel = _winnow_select(f1, w)
                    pos = (sel + 1).astype(np.int32)
                    f1, f2 = f1[sel], f2[sel]
                else:
                    pos = np.arange(1, f1.size + 1, dtype=np.int32)
                out_id.append(np.repeat(did, pos.size))
                out_pos.append(pos)
                out_f1.append(f1.view(np.int64))
                out_f2.append(f2.view(np.int64))
                pending += pos.size
                if pending >= (1 << 20):
                    yield from flush()
        yield from flush()

    src = docs.where(F.length(text_col) >= kk).select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    )
    # A small parquet source arrives as 1-2 input splits, which would pin
    # the kernel to 1-2 cores (the round-1 amplification lesson).
    return fan_out_small_scan(src).mapInPandas(gen, schema)


def substring_positions(
    docs: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_order_hash: bool = False,
) -> DataFrame:
    """Every k-char window of every document: (doc_id, pos, fp[, h]).

    ``pos`` is 1-based (SQL ``substr`` convention, so the DuckDB oracle
    is literally the same arithmetic), ``fp`` the md5 join key, ``h`` an
    xxhash64 emitted only when ``with_order_hash`` (it exists solely for
    winnowing order — exact-mode callers skip a per-position hash).
    Documents shorter than k emit nothing. The guard filter matters:
    Spark's ``sequence(1, n)`` DESCENDS when n < 1 instead of being
    empty."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    gram = F.substring(F.col("__text"), F.col("pos"), F.lit(k))
    cols = ["doc_id", "pos", F.md5(gram).alias("fp")]
    if with_order_hash:
        cols.append(F.xxhash64(gram).alias("h"))
    return (
        docs.where(F.length(text_col) >= k)
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("__text"),
            F.explode(F.sequence(F.lit(1), F.length(text_col) - k + 1)).alias("pos"),
        )
        .select(*cols)
    )


def winnow_positions(pos_df: DataFrame, w: int) -> DataFrame:
    """Winnowing selection: keep positions that are the (h, pos)-minimal
    k-gram of at least one window of ``w`` consecutive positions.

    ``min(struct(h, pos, ...))`` over each forward frame is the
    per-window argmin with a deterministic leftmost tie rule — the fp/h
    payload rides inside the struct (ordering is decided by the (h, pos)
    prefix; pos is unique per doc), so selection needs NO join back to
    the positions table: one window pass + one distinct. A position
    selected by several windows is kept once. Guarantee threshold: any
    duplicate substring of length ≥ w+k-1 survives thinning (module
    docstring)."""
    if w < 1:
        raise ValueError(f"winnow window must be >= 1, got {w}")
    if w == 1:
        return pos_df
    frame = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    win = pos_df.withColumn("__wmin", F.min(F.struct("h", "pos", "fp")).over(frame))
    return win.select(
        "doc_id",
        F.col("__wmin.pos").alias("pos"),
        F.col("__wmin.fp").alias("fp"),
        F.col("__wmin.h").alias("h"),
    ).distinct()


def duplicate_spans(
    docs: DataFrame,
    k: int = 40,
    min_count: int = 2,
    scope: str = "global",
    winnow: int | None = None,
    df_cap: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    engine: str = "rolling",
) -> DataFrame:
    """Maximal duplicated spans per document:
    (doc_id, span_start, span_end, span_len), ``span_end`` exclusive,
    touching/overlapping k-windows merged into islands.

    scope="global" counts occurrences (within-doc repetition counts);
    "cross_doc" requires ≥ min_count DISTINCT documents. ``winnow=w``
    switches to sampled fingerprints (detection guaranteed only for
    repeats ≥ w+k-1; reported spans are a subset of stride-1's).
    ``df_cap`` drops fingerprints occurring more than df_cap times
    (boilerplate short-circuit) BEFORE the join back. ``engine``:
    "rolling" (default) fingerprints in O(n) per document via
    :func:`rolling_fingerprints`; "md5" keeps the fully-native
    per-position formulation (the DuckDB oracle's literal shape)."""
    if scope not in ("global", "cross_doc"):
        raise ValueError(f"scope must be 'global' or 'cross_doc', got {scope!r}")
    pos, key = _fingerprint_positions(docs, k, winnow, text_col, id_col, engine)
    counted = pos.groupBy(*key).agg(
        F.count("*").alias("__n"), F.count_distinct("doc_id").alias("__nd")
    )
    hot = counted.where(F.col("__n") >= min_count if scope == "global" else F.col("__nd") >= min_count)
    if df_cap is not None:
        hot = hot.where(F.col("__n") <= df_cap)
    marked = pos.join(hot.select(*key), key).select("doc_id", "pos")

    wo = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + k).over(wo.rowsBetween(Window.unboundedPreceding, -1))
    islanded = (
        marked.withColumn(
            "__new", (F.col("pos") > F.coalesce(prev_max_end, F.lit(-1))).cast("int")
        )
        .withColumn("__island", F.sum("__new").over(wo.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        islanded.groupBy("doc_id", "__island")
        .agg(F.min("pos").alias("span_start"), (F.max("pos") + k).alias("span_end"))
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
        .withColumnRenamed("doc_id", id_col)  # honor the caller's id name
    )


def _fingerprint_positions(docs, k, winnow, text_col, id_col, engine):
    """Shared engine dispatch: (positions DataFrame, fingerprint key cols)."""
    if engine == "rolling":
        return (
            rolling_fingerprints(docs, k, text_col=text_col, id_col=id_col, winnow=winnow),
            ["fp", "fp2"],
        )
    if engine != "md5":
        raise ValueError(f"engine must be 'rolling' or 'md5', got {engine!r}")
    pos = substring_positions(
        docs, k, text_col=text_col, id_col=id_col, with_order_hash=bool(winnow and winnow > 1)
    )
    if winnow:
        pos = winnow_positions(pos, winnow)
    return pos, ["fp"]


def substring_dup_stats(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document rollup of duplicate_spans: (doc_id, n_spans,
    dup_chars, doc_len, dup_ratio) — every document present, zero-filled.
    ``dup_ratio`` is the Lee-et-al-style fraction of the document covered
    by ≥k-char repeats; a curation funnel thresholds on it."""
    spans = spans.withColumnRenamed(id_col, "doc_id") if id_col != "doc_id" else spans
    agg = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"), F.sum("span_len").alias("dup_chars")
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.length(text_col).alias("doc_len"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0)).alias("dup_chars"),
            "doc_len",
            F.round(
                F.coalesce("dup_chars", F.lit(0)) / F.greatest("doc_len", F.lit(1)), 6
            ).alias("dup_ratio"),
        )
        .withColumnRenamed("doc_id", id_col)
    )


def strip_duplicate_spans(
    docs: DataFrame,
    k: int = 40,
    min_count: int = 2,
    winnow: int | None = None,
    df_cap: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    engine: str = "rolling",
) -> DataFrame:
    """Remove duplicated spans, keeping each repeat's FIRST occurrence.

    Canonical rule (deterministic, order-free): a k-gram occurrence is a
    *removable duplicate* iff a strictly earlier occurrence of the same
    fingerprint exists under (doc_id, pos) ordering — computed as
    ``min(struct(doc_id, pos))`` per fingerprint, one extra column on the
    groupBy already paid for. Removable positions island-merge exactly
    like duplicate_spans; the cleaned text is rebuilt by cutting the
    merged spans out (aggregate over collected spans — per-doc list is
    small, the heavy lifting stayed relational). Returns (doc_id, text,
    cleaned_text, removed_chars). ``engine`` as in duplicate_spans."""
    pos, key = _fingerprint_positions(docs, k, winnow, text_col, id_col, engine)
    counted = pos.groupBy(*key).agg(
        F.count("*").alias("__n"), F.min(F.struct("doc_id", "pos")).alias("__first")
    )
    hot = counted.where(F.col("__n") >= min_count)
    if df_cap is not None:
        hot = hot.where(F.col("__n") <= df_cap)
    removable = (
        pos.join(hot.select(*key, "__first"), key)
        .where((F.col("doc_id") != F.col("__first.doc_id")) | (F.col("pos") != F.col("__first.pos")))
        .select("doc_id", "pos")
    )
    wo = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + k).over(wo.rowsBetween(Window.unboundedPreceding, -1))
    spans = (
        removable.withColumn(
            "__new", (F.col("pos") > F.coalesce(prev_max_end, F.lit(-1))).cast("int")
        )
        .withColumn("__island", F.sum("__new").over(wo.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "__island")
        .agg(F.min("pos").alias("s"), (F.max("pos") + k).alias("e"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__spans"))
    )
    # cleaned = the concatenation of the keep-gaps between spans; fold the
    # sorted span list with aggregate(): acc = (cursor, text-so-far)
    rebuild = F.aggregate(
        "__spans",
        F.struct(F.lit(1).alias("cur"), F.lit("").alias("out")),
        lambda acc, sp: F.struct(
            sp["e"].alias("cur"),
            F.concat(
                acc["out"],
                F.substring(
                    F.col(text_col), acc["cur"], F.greatest(sp["s"] - acc["cur"], F.lit(0))
                ),
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"], F.substring(F.col(text_col), acc["cur"], F.length(text_col))
        ),
    )
    out = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col))
        .join(spans, "doc_id", "left")
        .withColumn(
            "cleaned_text",
            F.when(F.col("__spans").isNull(), F.col(text_col)).otherwise(rebuild),
        )
        .select(
            "doc_id",
            F.col(text_col).alias("text"),
            "cleaned_text",
            (F.length(text_col) - F.length("cleaned_text")).alias("removed_chars"),
        )
        .withColumnRenamed("doc_id", id_col)  # honor the caller's id name
    )
    return out
