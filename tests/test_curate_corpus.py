"""End-to-end curation pipeline: quality → exact dedup → near dedup →
decontamination → PII redaction, every drop counted."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_curate_corpus_end_to_end(spark, tmp_path):
    from jobs.curate_corpus import curate_corpus

    # gopher gate: ≥50 words, mean word length in [3, 10], ≥2 stopword hits
    # every trigram contains a stem-unique token, so distinct stems share NO
    # 3-grams (decontamination only fires on genuinely shared passages)
    def doc(prefix: str, stem: str) -> str:
        body = " ".join(f"{stem}{i:02d} the {stem}x{i:02d}" for i in range(20))
        return f"{prefix} {body}"

    base = doc("shared benchmark paragraph", "alpha")
    rows = [
        (0, base),                               # benchmark member → contaminated
        (1, base + " extra tail here"),          # near-dup of 0 (and contaminated)
        (2, "tiny"),                             # fails gopher word count
        (3, doc("unique third document", "beta")),
        (4, doc("unique third document", "beta")),  # exact dup of 3
        (5, doc("mail me at a@b.co please", "gamma")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    benchmark = docs.where(F.col("doc_id") == 0)

    cached_before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    stats = curate_corpus(spark, docs, benchmark, str(tmp_path / "out"),
                          jaccard_threshold=0.7, contamination_ngram=3)
    assert stats["input"] == 6
    assert stats["after_quality"] == 5          # doc 2 dropped
    assert stats["after_exact_dedup"] == 4      # doc 4 dropped (keep-first)
    assert stats["after_near_dedup"] == 3       # doc 1 dropped (near-dup of 0)
    assert stats["after_decontamination"] == 2  # doc 0 dropped (benchmark member)

    out = spark.read.parquet(str(tmp_path / "out" / "curated"))
    got = {r["doc_id"]: r["curated_text"] for r in out.collect()}
    assert set(got) == {3, 5}
    assert "[PII]" in got[5] and "a@b.co" not in got[5]
    # no NEW caches leak out of the job (other tests in the shared session
    # may legitimately hold their own)
    cached_after = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    assert cached_after - cached_before == set(), cached_after - cached_before


def test_curate_corpus_optional_stages(spark, tmp_path):
    """Round 3: boilerplate stripping + LM-score floor as opt-in stages.
    The banner line repeats across all docs and must be gone from the
    curated text; the LM floor drops the out-of-domain doc."""
    from jobs.curate_corpus import curate_corpus

    def doc(prefix: str, stem: str) -> str:
        body = " ".join(f"{stem}{i:02d} the {stem}x{i:02d}" for i in range(20))
        return f"{prefix} {body}"

    banner = "SUBSCRIBE TO OUR NEWSLETTER TODAY PLEASE"
    # in-domain docs share the 'delta' vocabulary; the odd one out is 'omega'
    rows = [
        (1, banner + "\n" + doc("first document body", "delta")),
        (2, banner + "\n" + doc("second document body", "delta")),
        (3, banner + "\n" + doc("third document body", "delta")),
        (4, banner + "\n" + doc("fourth odd one out", "omega")),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    benchmark = spark.createDataFrame([(99, "nothing shared")], "doc_id long, text string")

    # compute every doc's LM score (after boilerplate strip) to place the
    # floor between the in-domain docs and the outlier
    from article_extraction_spark.operators.textstats import (
        bigram_lm_score,
        remove_boilerplate_lines,
    )

    stripped = remove_boilerplate_lines(docs, "doc_id", "text", max_doc_freq=2).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    _scored = bigram_lm_score(stripped, "doc_id", "text")
    scores = {r["doc_id"]: r["lm_score"] for r in _scored.collect()}
    _scored._retained_cache.unpersist()
    in_domain = [scores[i] for i in (1, 2, 3)]
    assert scores[4] < min(in_domain), f"fixture degenerate: {scores}"
    floor = (scores[4] + min(in_domain)) / 2  # between outlier and in-domain

    stats = curate_corpus(
        spark, docs, benchmark, str(tmp_path / "out2"),
        jaccard_threshold=0.7, contamination_ngram=3,
        boilerplate_max_doc_freq=2, lm_score_floor=floor,
    )
    assert stats["after_lm_score"] == 3          # omega doc dropped
    # docs 1-3 share the same delta body → near-dedup keeps the canonical 1
    assert stats["after_near_dedup"] == 1
    out = spark.read.parquet(str(tmp_path / "out2" / "curated"))
    got = {r["doc_id"]: r["curated_text"] for r in out.collect()}
    assert set(got) == {1}
    assert all(banner not in t for t in got.values())


def test_curate_corpus_cross_run_index_dedup(spark, tmp_path):
    """round 4: --dedup-index makes curation incremental across runs —
    run 2 over a grown input only emits the genuinely new docs, and the
    per-stage stats record the index-dedup drop."""
    from pyspark.sql import functions as F

    from jobs.curate_corpus import curate_corpus

    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    benchmark = base.where(F.col("doc_id") < 0)  # empty: isolate the index stage
    idx = str(tmp_path / "fpidx")

    run1_docs = base.where(F.col("doc_id") < 60)
    s1 = curate_corpus(
        spark, run1_docs, benchmark, str(tmp_path / "out1"), dedup_index_root=idx
    )
    assert s1["after_index_dedup"] == s1["after_exact_dedup"]  # empty index
    n1 = s1["output"]
    assert n1 > 0

    # run 2: everything from run 1 plus 20 genuinely new docs
    run2_docs = base.where(F.col("doc_id") < 80)
    s2 = curate_corpus(
        spark, run2_docs, benchmark, str(tmp_path / "out2"), dedup_index_root=idx
    )
    assert s2["after_index_dedup"] < s2["after_exact_dedup"]
    out2 = spark.read.parquet(str(tmp_path / "out2") + "/curated")
    new_ids = {r["doc_id"] for r in out2.select("doc_id").collect()}
    assert new_ids and all(i >= 60 for i in new_ids), sorted(new_ids)[:5]

    # run 3: same input as run 2 — nothing new survives
    s3 = curate_corpus(
        spark, run2_docs, benchmark, str(tmp_path / "out3"), dedup_index_root=idx
    )
    assert s3["after_index_dedup"] == 0 and s3["output"] == 0


def test_funnel_substring_dedup_stage(spark, tmp_path):
    """Opt-in stage 3b: a doc that is MOSTLY a repeated passage drops
    wholesale; partial repeats get their spans stripped keep-first; the
    stage is absent (and stats key missing) by default."""
    from jobs.curate_corpus import curate_corpus

    passage = (
        "this exact licensing paragraph is repeated verbatim across many "
        "documents of the corpus and should be stripped by span dedup"
    )

    def filler(doc, n):  # unique varied prose, no 40-char repeats anywhere
        return " ".join(f"word{doc}x{i} topic{(doc * 7 + i) % 91}" for i in range(n))

    stops = "the cat and the dog have to be of and that with the others"
    rows = [
        (0, filler(0, 40) + " " + passage + " " + filler(10, 40)),
        (1, filler(1, 40) + " " + passage + " " + filler(11, 40)),
        (2, passage + " " + passage + " " + passage),  # ≥50 words, mostly repeats → dropped at 3b
        (3, filler(3, 25) + " " + stops),              # no repeats; passes quality via stopwords
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(900, "benchmark question nothing shares")], "doc_id long, text string")

    out = curate_corpus(
        spark, docs, bench, str(tmp_path / "o1"),
        jaccard_threshold=0.95, substring_dedup_k=40, substring_max_dup_ratio=0.6,
    )
    assert "after_substring_dedup" in out
    curated = {r["doc_id"]: r["curated_text"] for r in
               spark.read.parquet(str(tmp_path / "o1") + "/curated").collect()}
    assert 2 not in curated                      # mostly-duplicate doc dropped
    assert passage in curated.get(0, "")         # first occurrence kept
    assert 1 in curated and passage not in curated[1]  # later occurrence stripped
    assert "word1x0" in curated[1] and "word11x39" in curated[1]  # real content survives
    assert 3 in curated and curated[3] == rows[3][1]  # untouched doc unchanged

    # default path: no stage, no stats key
    out2 = curate_corpus(spark, docs, bench, str(tmp_path / "o2"), jaccard_threshold=0.95)
    assert "after_substring_dedup" not in out2


def test_curate_corpus_cross_run_near_dup_index(spark, tmp_path):
    """round 7: --near-dup-index makes stage 3 persistent across runs —
    run 2 drops docs that NEAR-duplicate anything run 1 already emitted
    (different fingerprints, so the exact index can't catch them), the
    within-batch CC-keep-min rule still applies, and the index commits
    only after the write (probe is commit=False)."""
    from pyspark.sql import functions as F

    from jobs.curate_corpus import curate_corpus

    def doc(stem: str, tail: str = "") -> str:
        body = " ".join(f"{stem}{i:02d} the {stem}x{i:02d}" for i in range(20))
        return f"some {stem} document {body}{tail}"

    benchmark = spark.createDataFrame([], "doc_id long, text string")
    idx = str(tmp_path / "mhidx")

    run1 = spark.createDataFrame(
        [
            (1, doc("alpha")),
            (2, doc("alpha", " slightly edited tail")),  # near-dup of 1 in-batch
            (3, doc("beta")),
        ],
        "doc_id long, text string",
    )
    s1 = curate_corpus(
        spark, run1, benchmark, str(tmp_path / "out1"), near_dup_index_root=idx
    )
    out1 = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out1") + "/curated").collect()}
    assert out1 == {1, 3}  # in-batch near-dup 2 dropped, min id kept
    assert s1["after_near_dedup"] == 2

    # run 2: a near-variant of run-1's emitted doc 1 (new fingerprint!),
    # plus one genuinely new doc
    run2 = spark.createDataFrame(
        [
            (10, doc("alpha", " another different suffix")),  # near-dup of emitted 1
            (11, doc("gamma")),
        ],
        "doc_id long, text string",
    )
    s2 = curate_corpus(
        spark, run2, benchmark, str(tmp_path / "out2"), near_dup_index_root=idx
    )
    out2 = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out2") + "/curated").collect()}
    assert out2 == {11}, out2  # the cross-run near-dup dropped
    assert s2["after_near_dedup"] == 1

    # run 3 replays run 2's input: doc 11 is exactly indexed now (no new
    # fingerprint drop — no exact index in play — but it IS a near-dup of
    # itself in the index at 16/16 agreement), so nothing survives
    s3 = curate_corpus(
        spark, run2, benchmark, str(tmp_path / "out3"), near_dup_index_root=idx
    )
    assert s3["after_near_dedup"] == 0 and s3["output"] == 0
