"""Text-analysis operators for training-data pipelines (all native
expressions — no Python boundary in the hot path).

Language-ID n-gram/stopword heuristic, quality scoring (length/punct/
stopword ratios), token counting (whitespace + BPE-ish regex), document
fingerprinting. These generalize the reference's text-diagnosis tooling
(reference diagnosis/nb_token_papers.py:42-74 token counting) to corpus
curation at scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny public stopword marker sets per language (heuristic language ID)
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}

_EN_STOPWORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
    "on", "as", "with", "was", "at", "by", "an", "be", "this", "are",
]


def token_count_col(c: Column) -> Column:
    """Whitespace token count; 0 for empty/NULL."""
    t = F.trim(F.coalesce(c, F.lit("")))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def punct_ratio_col(c: Column) -> Column:
    t = F.coalesce(c, F.lit(""))
    n = F.length(t)
    punct = n - F.length(F.regexp_replace(t, r"[^\p{L}\p{N}\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct.cast("double") / n)


def stopword_ratio_col(c: Column, stopwords: list[str] | None = None) -> Column:
    words = F.split(F.lower(F.trim(F.coalesce(c, F.lit("")))), r"\s+")
    sw = F.array(*[F.lit(w) for w in (stopwords or _EN_STOPWORDS)])
    hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))
    total = F.size(words)
    return F.when(total == 0, F.lit(0.0)).otherwise(hits.cast("double") / total)


def lang_guess_col(c: Column) -> Column:
    """Stopword-marker language ID: pick the language with the most marker
    hits; 'und' when nothing matches. greatest(struct(hits, lang)) keeps the
    whole decision in one codegen'd expression."""
    words = F.split(F.lower(F.trim(F.coalesce(c, F.lit("")))), r"\s+")
    scored = []
    for lang, markers in _LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        hits = F.size(F.filter(words, lambda w: F.array_contains(arr, w)))
        scored.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.greatest(*scored)
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def script_lang_hint_col(c: Column) -> Column:
    """Unicode-script language hint for non-Latin text (complements the
    stopword markers, which only separate Latin-script languages):
    CJK → 'zh', Hiragana/Katakana → 'ja', Hangul → 'ko', Cyrillic → 'ru',
    Arabic → 'ar'; otherwise NULL (fall back to marker-based ID)."""
    t = F.coalesce(c, F.lit(""))
    n = F.greatest(F.length(t), F.lit(1))

    def ratio(pattern: str) -> Column:
        return (n - F.length(F.regexp_replace(t, pattern, ""))).cast("double") / n

    return (
        F.when(ratio(r"[぀-ヿ]") > 0.05, F.lit("ja"))  # kana wins over CJK
        .when(ratio(r"[一-鿿]") > 0.25, F.lit("zh"))
        .when(ratio(r"[가-힯]") > 0.25, F.lit("ko"))
        .when(ratio(r"[Ѐ-ӿ]") > 0.25, F.lit("ru"))
        .when(ratio(r"[؀-ۿ]") > 0.25, F.lit("ar"))
        .otherwise(F.lit(None).cast("string"))
    )


def lang_id_col(c: Column) -> Column:
    """Full language ID: script hint first, stopword markers otherwise."""
    return F.coalesce(script_lang_hint_col(c), lang_guess_col(c))


# Gopher-style quality rules (Rae et al. 2021, public): documents failing
# any rule are low-quality training data. Each flag is True when the rule
# PASSES. All native expressions.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_WORD_LEN = (3.0, 10.0)
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MAX_BULLET_RATIO = 0.9
GOPHER_MIN_STOPWORD_HITS = 2


def gopher_flags_col(c: Column) -> Column:
    """struct of per-rule pass flags + overall pass."""
    t = F.coalesce(c, F.lit(""))
    words = F.split(F.lower(F.trim(t)), r"\s+")
    n_words = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(words))
    total_chars = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    mean_len = F.when(n_words > 0, total_chars.cast("double") / n_words).otherwise(F.lit(0.0))
    n_hash_ellipsis = F.size(F.filter(words, lambda w: w.contains("#") | w.contains("...")))
    symbol_ratio = F.when(n_words > 0, n_hash_ellipsis.cast("double") / n_words).otherwise(F.lit(0.0))
    lines = F.split(t, r"\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(F.filter(lines, lambda l: F.trim(l).startswith("-") | F.trim(l).startswith("*")))
    bullet_ratio = F.when(n_lines > 0, bullet_lines.cast("double") / n_lines).otherwise(F.lit(0.0))
    sw = F.array(*[F.lit(w) for w in ("the", "be", "to", "of", "and", "that", "have", "with")])
    stop_hits = F.size(F.filter(words, lambda w: F.array_contains(sw, w)))

    word_count_ok = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    mean_len_ok = (mean_len >= GOPHER_MEAN_WORD_LEN[0]) & (mean_len <= GOPHER_MEAN_WORD_LEN[1])
    symbol_ok = symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO
    bullet_ok = bullet_ratio <= GOPHER_MAX_BULLET_RATIO
    stopword_ok = stop_hits >= GOPHER_MIN_STOPWORD_HITS
    return F.struct(
        word_count_ok.alias("word_count_ok"),
        mean_len_ok.alias("mean_word_len_ok"),
        symbol_ok.alias("symbol_ratio_ok"),
        bullet_ok.alias("bullet_ratio_ok"),
        stopword_ok.alias("stopword_ok"),
        (word_count_ok & mean_len_ok & symbol_ok & bullet_ok & stopword_ok).alias("passes"),
    )


def fingerprint_col(c: Column) -> Column:
    """Deterministic document fingerprint: md5 over the normalized text
    (lower, collapse non-alnum). Portable across engines (exact-dup key)."""
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), r"[^a-z0-9]+", " "), r"\s+", " ")
    )
    return F.md5(norm.cast("binary"))


# ---------------------------------------------------------------------------
# PII redaction — training-data curation staple. Native regexp expressions
# (whole-stage codegen, no Python); patterns kept RE2/Java-portable so the
# DuckDB oracle can replicate them verbatim.
# ---------------------------------------------------------------------------

PII_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"),
    ("ipv4", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("longnum", r"\b[0-9]{9,}\b"),  # SSN/account-shaped digit runs
]


def redact_pii(df: "DataFrame", text_col: str, out_col: str = "redacted", token: str = "[PII]"):
    """Adds ``out_col`` (text with emails/IPv4s/long digit runs replaced by
    ``token``) plus one ``n_<kind>`` count column per pattern. Counts are
    taken BEFORE redaction (replacement order can't hide later patterns);
    replacements apply in PII_PATTERNS order."""
    src = F.coalesce(F.col(text_col), F.lit(""))
    out = df
    for kind, pat in PII_PATTERNS:
        out = out.withColumn(f"n_{kind}", F.regexp_count(src, F.lit(pat)))
    red = src
    for _, pat in PII_PATTERNS:
        red = F.regexp_replace(red, pat, token)
    return out.withColumn(out_col, red)


def top_terms(df: "DataFrame", text_col: str, k: int = 20) -> "DataFrame":
    """Corpus vocabulary stats: top-k terms by document-token frequency.

    explode → groupBy(term) → count compiles to partial (map-side) aggregation
    before ONE shuffle on the term; orderBy+limit is TakeOrderedAndProject
    (per-partition heaps). Ties break on the term, so the top-k set is a
    total order — deterministic at any partitioning."""
    from ..functions.textnorm import alnum_tokens_col

    toks = alnum_tokens_col(F.col(text_col))
    return (
        df.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(k)
    )


def repetition_stats(df: "DataFrame", id_col: str, text_col: str) -> "DataFrame":
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1): duplicate-
    word ratio and top-bigram share per document.

    The per-doc bigram histogram is computed RELATIONALLY (explode → count →
    max/sum → join back) instead of per-row higher-order expressions:
    interpreted lambda expressions re-evaluate subtrees quadratically, while
    the explode formulation is two hash aggregates that scale with total
    token count."""
    from ..functions.textnorm import alnum_tokens_col

    toks = alnum_tokens_col(F.col(text_col))
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_t")).select(
        "_id",
        F.size("_t").alias("n_words"),
        F.size(F.array_distinct("_t")).alias("n_distinct_words"),
        F.when(
            F.size("_t") >= 2,
            F.zip_with(
                F.slice("_t", 1, F.size("_t") - 1),
                F.slice("_t", 2, F.size("_t") - 1),
                lambda a, b: F.concat_ws(" ", a, b),
            ),
        ).otherwise(F.array().cast("array<string>")).alias("_bg"),
    )
    grams = base.select("_id", F.explode("_bg").alias("_g"))
    hist = (
        grams.groupBy("_id", "_g")
        .agg(F.count("*").alias("c"))
        .groupBy("_id")
        .agg(F.max("c").alias("top_bigram_n"), F.sum("c").alias("n_bigrams"))
    )
    out = base.drop("_bg").join(hist, "_id", "left")
    return out.select(
        F.col("_id").alias(id_col),
        "n_words",
        "n_distinct_words",
        F.when(F.col("n_words") > 0,
               1.0 - F.col("n_distinct_words") / F.col("n_words")).otherwise(0.0).alias("dup_word_ratio"),
        F.coalesce("top_bigram_n", F.lit(0)).alias("top_bigram_n"),
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.when(F.coalesce("n_bigrams", F.lit(0)) > 0,
               F.col("top_bigram_n") / F.col("n_bigrams")).otherwise(0.0).alias("top_bigram_share"),
    )


# ---------------------------------------------------------------------------
# Bigram-LM quality scoring (round 3) — the CCNet/CC-100 idea of ranking
# documents by language-model fit, expressed fully relationally: train the
# LM as count tables (two shuffles), score each document by its average
# bigram log-probability (explode → two joins → agg). No UDF, no Python.
# ---------------------------------------------------------------------------


def bigram_lm_score(
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    lm_corpus: DataFrame | None = None,
    add_k: float = 1.0,
    round_digits: int | None = 6,
) -> DataFrame:
    """Per-document mean bigram log-probability under an add-k-smoothed
    bigram model trained on ``lm_corpus`` (default: the corpus itself).

    P(w2|w1) = (n(w1,w2) + k) / (n(w1·) + k·V), summed over the document's
    bigrams and divided by their count — higher = more typical text, the
    standard quality/perplexity filter (Wenzek et al., CCNet). Shape:
    bigram/unigram count tables from one explode each (map-side partial
    aggs), then the corpus bigrams equi-join both tables — the LM tables
    are corpus-vocabulary-sized, so AQE broadcasts them when small and
    shuffle-joins otherwise; never |corpus|² anything. Unseen bigrams get
    the smoothed floor, so out-of-domain text scores low rather than NULL.
    Docs with <2 tokens return NULL score (no bigrams). The score is
    rounded to ``round_digits`` so cross-engine float reproduction is
    exact (None = raw double; the gate query floors instead, since Spark
    rounds HALF_UP but DuckDB half-even). The result carries the persisted
    unigram table as ``_retained_cache`` — ``.unpersist()`` it after
    consuming the result."""
    from ..functions.textnorm import alnum_tokens_col

    lm_corpus = lm_corpus if lm_corpus is not None else corpus
    lm_toks = lm_corpus.select(alnum_tokens_col(F.col(text_col)).alias("_t"))
    lm_bi = (
        lm_toks.select(
            F.explode(
                F.zip_with(
                    F.slice("_t", 1, F.greatest(F.size("_t") - 1, F.lit(0))),
                    F.slice("_t", 2, F.greatest(F.size("_t") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("n12"))
    )
    lm_uni = (
        lm_toks.select(F.explode("_t").alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("n1"))
    )
    # the unigram table feeds the V count AND the scoring join; persisted so
    # the corpus is tokenized once for it, not twice (review r3 — vocab-
    # sized, cheap to hold; handed back via _retained_cache below)
    from pyspark import StorageLevel

    lm_uni = lm_uni.persist(StorageLevel.MEMORY_AND_DISK)
    # vocabulary size for the smoothing denominator (distinct unigrams)
    v = lm_uni.count()

    doc_bi = corpus.select(
        F.col(id_col), alnum_tokens_col(F.col(text_col)).alias("_t")
    ).select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice("_t", 1, F.greatest(F.size("_t") - 1, F.lit(0))),
                F.slice("_t", 2, F.greatest(F.size("_t") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select(id_col, "bg.w1", "bg.w2")
    k = float(add_k)
    logp = F.log(
        (F.coalesce(F.col("n12"), F.lit(0)) + F.lit(k))
        / (F.coalesce(F.col("n1"), F.lit(0)) + F.lit(k) * F.lit(float(v)))
    )
    scored = (
        doc_bi.join(lm_bi, ["w1", "w2"], "left")
        .join(lm_uni, ["w1"], "left")
        .groupBy(id_col)
        .agg(
            (
                F.round(F.avg(logp), round_digits)
                if round_digits is not None
                else F.avg(logp)
            ).alias("lm_score"),
            F.count("*").alias("n_bigrams"),
        )
    )
    out = (
        corpus.select(id_col)
        .distinct()
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.col("lm_score"),
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        )
    )
    out._retained_cache = lm_uni  # type: ignore[attr-defined]
    return out


# ---------------------------------------------------------------------------
# Line-level boilerplate removal (round 3) — the CCNet/RefinedWeb trick:
# lines that repeat across many documents (nav bars, cookie banners,
# signatures) are boilerplate; strip them while preserving each document's
# remaining line order. Fully relational: posexplode -> line-frequency
# count -> join -> re-assemble with array_sort + concat.
# ---------------------------------------------------------------------------


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_freq: int = 2,
    min_line_chars: int = 1,
) -> DataFrame:
    """Strip lines that appear (trim-normalized) in more than
    ``max_doc_freq`` DISTINCT documents; lines shorter than
    ``min_line_chars`` after trim are dropped outright (blank-ish).

    Returns (id, text_clean, n_lines, n_lines_kept). Shape: one posexplode,
    one groupBy on the line hash (map-side partial agg — the line-frequency
    table is vocabulary-sized), one equi-join back, one groupBy re-assembly
    ordered by original line index. The line table carries xxhash64(line),
    not the line text, through the shuffle — which assumes 64-bit hash
    collisions are negligible (a colliding pair of DISTINCT lines would
    pool their document frequencies; at 10¹⁰ unique lines the birthday
    bound puts the chance of even one collision near 0.3%, and a collision
    only matters if it pushes a line across ``max_doc_freq``). The shingle
    paths verify text on the join; here the text never crosses the
    shuffle by design. No UDF."""
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "_ln_idx", "_ln"
        ),
    ).withColumn("_lnt", F.trim("_ln")).withColumn("_h", F.xxhash64(F.col("_lnt")))
    freq = (
        lines.where(F.length("_lnt") >= min_line_chars)
        .groupBy("_h")
        .agg(F.count_distinct("_id").alias("_df"))
    )
    kept = (
        lines.join(freq, "_h", "left")
        .withColumn(
            "_keep",
            (F.length("_lnt") >= min_line_chars)
            & (F.coalesce("_df", F.lit(0)) <= max_doc_freq),
        )
    )
    out = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("_ln_idx", F.col("_ln")))
                    )
                ),
                lambda s: s["_ln"],
            ),
            "\n",
        ).alias("text_clean"),
        F.count("*").alias("n_lines"),
        F.sum(F.col("_keep").cast("long")).alias("n_lines_kept"),
    )
    return out.select(
        F.col("_id").alias(id_col), "text_clean", "n_lines", "n_lines_kept"
    )


def collapse_repeated_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Collapse CONSECUTIVE duplicate lines within each document (the
    intra-doc cousin of remove_boilerplate_lines — scraped pages often
    stutter nav/widget lines back-to-back). Trim-normalized comparison;
    the FIRST occurrence survives with its original whitespace. Returns
    (id, text_clean, n_lines, n_collapsed). posexplode → lag window keyed
    by (doc, line index) → order-preserving reassembly; one shuffle."""
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")).alias(
            "_ln_idx", "_ln"
        ),
    )
    w = Window.partitionBy("_id").orderBy("_ln_idx")
    marked = lines.withColumn(
        "_dup",
        F.trim("_ln") != "",
    ).withColumn(
        "_keep",
        F.lag(F.trim("_ln")).over(w).isNull()
        | (F.trim("_ln") != F.lag(F.trim("_ln")).over(w))
        | ~F.col("_dup"),  # blank lines never collapse (paragraph breaks)
    )
    out = marked.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"), F.struct("_ln_idx", F.col("_ln")))
                    )
                ),
                lambda s: s["_ln"],
            ),
            "\n",
        ).alias("text_clean"),
        F.count("*").alias("n_lines"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_collapsed"),
    )
    return out.select(
        F.col("_id").alias(id_col), "text_clean", "n_lines", "n_collapsed"
    )


def tfidf_top_terms(
    df: "DataFrame",
    id_col: str,
    text_col: str,
    k: int = 5,
) -> "DataFrame":
    """Per-document top-k TF-IDF terms, fully relational (round 4).

    Vocabulary is the shared ``alnum_tokens_col`` definition; tf is the
    within-document term count, idf the smoothed
    ``ln((N + 1) / (df_t + 1)) + 1`` (sklearn's smooth_idf formula —
    public), score = tf · idf. Returns (id, term, tf, score) for each
    document's top ``k`` terms ranked by (score desc, term asc) — a total
    order, so the result is deterministic at any partitioning.

    Shape: explode → groupBy(doc, term) count [one shuffle, map-side
    partials], term document-frequency agg [vocabulary-sized shuffle],
    corpus size as a broadcast one-row cross join (stays inside the plan —
    no driver action), equi-join tf×idf on the term, per-document window
    top-k. No UDF; everything whole-stage-codegen'd except the window."""
    from pyspark.sql import Window

    from ..functions.textnorm import alnum_tokens_col

    terms = df.select(
        F.col(id_col).alias("_id"),
        F.explode(alnum_tokens_col(F.col(text_col))).alias("term"),
    )
    tf = terms.groupBy("_id", "term").agg(F.count("*").alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n_docs"))
    idf = doc_freq.crossJoin(F.broadcast(n_docs)).select(
        "term",
        "df_t",
        (F.log((F.col("n_docs") + 1) / (F.col("df_t") + 1)) + 1).alias("idf"),
    )
    scored = tf.join(idf, "term").select(
        "_id", "term", "tf", (F.col("tf") * F.col("idf")).alias("score")
    )
    w = Window.partitionBy("_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(F.col("_id").alias(id_col), "term", "tf", "score", "rnk")
    )
