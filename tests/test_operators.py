"""Tests for splits, aggregates, and fuzzy joins (SURVEY.md §2.3-2.6)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from article_extraction_spark.operators import (
    cumulative_mean,
    deterministic_split,
    fuzzy_match_country,
    fuzzy_match_hardware,
    latest_per_group,
    top_k,
)
from article_extraction_spark.operators.aggregates import aggregate_answers


def test_deterministic_split_exact_counts_and_stability(spark):
    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    out = deterministic_split(df, "id", train=0.2, test=0.7, dev=0.1, seed=42)
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert counts == {"train": 200, "test": 700, "dev": 100}
    # identical assignment regardless of partitioning
    out2 = deterministic_split(df.repartition(13), "id", train=0.2, test=0.7, dev=0.1, seed=42)
    a = {r["id"]: r["split"] for r in out.collect()}
    b = {r["id"]: r["split"] for r in out2.collect()}
    assert a == b


def test_latest_per_group(spark):
    df = spark.createDataFrame(
        [("fr", 2020, 50.0), ("fr", 2023, 40.0), ("de", 2021, 300.0)],
        "country string, year int, g double",
    )
    got = {r["country"]: (r["year"], r["g"]) for r in latest_per_group(df, "country", "year").collect()}
    assert got == {"fr": (2023, 40.0), "de": (2021, 300.0)}


def test_top_k(spark):
    df = spark.createDataFrame([(g, v) for g in "ab" for v in range(10)], "g string, v int")
    top = top_k(df, F.col("v"), 3).collect()
    assert sorted(r["v"] for r in top) == [8, 9, 9]


def test_aggregate_answers_modes(spark):
    df = spark.createDataFrame(
        [("q1", "short", 0.9), ("q1", "the longest answer", 0.2), ("q1", "mid", 0.5)],
        "q string, ans string, score double",
    )
    assert aggregate_answers(df, "q", "ans", "score", "best").first()["answer"] == "short"
    assert aggregate_answers(df, "q", "ans", "score", "longest").first()["answer"] == "the longest answer"
    assert aggregate_answers(df, "q", "ans", "score", "concat").first()["answer"] == "short mid the longest answer"


def test_aggregate_answers_window_order(spark):
    """With order_col, semantics match the reference _aggregate
    (qa_squad.py:40-48): concat joins non-empty answers in WINDOW order,
    best/longest ties go to the FIRST window (Python max semantics)."""
    df = spark.createDataFrame(
        [
            ("q1", "w0-ans", 0.5, 0),
            ("q1", "", 0.9, 1),  # empty answers dropped from concat
            ("q1", "w2-ans", 0.5, 2),  # ties 0.5 with w0 → w0 wins 'best'
            ("q1", "last!!", 0.1, 3),  # same length as w0-ans → w0 wins 'longest'
        ],
        "q string, ans string, score double, widx int",
    )
    best = aggregate_answers(df, "q", "ans", "score", "best", order_col="widx")
    assert best.first()["answer"] == ""  # 0.9 beats the ties outright
    df2 = df.where(F.col("ans") != "")
    best2 = aggregate_answers(df2, "q", "ans", "score", "best", order_col="widx")
    assert best2.first()["answer"] == "w0-ans"
    longest = aggregate_answers(df2, "q", "ans", "score", "longest", order_col="widx")
    assert longest.first()["answer"] == "w0-ans"
    concat = aggregate_answers(df, "q", "ans", "score", "concat", order_col="widx")
    assert concat.first()["answer"] == "w0-ans w2-ans last!!"


def test_cumulative_mean(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(1, 5)], "i int, v double")
    got = [r["cum_mean"] for r in cumulative_mean(df, "i", "v").orderBy("i").collect()]
    assert got == [1.0, 1.5, 2.0, 2.5]


def test_cumulative_mean_distributed_matches_and_has_no_global_window(spark):
    """Two-phase prefix-sum expanding mean: same answer as the single-task
    window, and the plan contains no empty-partition-spec Window (every
    window is keyed by the range-partition id)."""
    from article_extraction_spark.operators.aggregates import cumulative_mean_distributed

    df = spark.createDataFrame(
        [(i, float((i * 37) % 101)) for i in range(1, 501)], "i int, v double"
    )
    expect = {r["i"]: r["cum_mean"] for r in cumulative_mean(df, "i", "v").collect()}
    out = cumulative_mean_distributed(df, "i", "v", num_partitions=8)
    got = {r["i"]: r["cum_mean"] for r in out.collect()}
    assert got.keys() == expect.keys()
    assert all(abs(got[k] - expect[k]) < 1e-9 for k in expect)

    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    # every Window node must carry a partition spec (no global single-task window)
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "_pid" in m.group(0) or m.group(1), f"global window found: {m.group(0)}"
    out._retained_cache.unpersist(blocking=True)


COUNTRIES = [(1, "France"), (2, "Germany"), (3, "Korea (Republic of)"), (4, "United States of America")]
HARDWARE = [
    (1, "NVIDIA A100 SXM4 80 GB", 312.0, 0.4),
    (2, "NVIDIA V100", 125.0, 0.3),
    (3, "Google TPU v4", 275.0, 0.192),
]


def test_fuzzy_match_country(spark):
    dim = spark.createDataFrame(COUNTRIES, "id_country int, country string")
    df = spark.createDataFrame(
        [("South Korea",), ("Germany / France",), ("USA",), ("united states",), (None,), ("Multinational",)],
        "t string",
    )
    got = [r["id_country"] for r in fuzzy_match_country(df, "t", dim).collect()]
    # "south korea" → alias → "korea republic of" ~ "korea republic of" (JW best)
    assert got[0] == 3
    assert got[1] == 2  # first token exact-containment wins argmin order
    assert got[3] == 4  # "united states" contained in "united states of america"
    assert got[4] is None and got[5] is None


def test_fuzzy_match_hardware_threshold(spark):
    dim = spark.createDataFrame(HARDWARE, "id_hardware int, hardware string, compute double, power double")
    df = spark.createDataFrame(
        [("NVIDIA A100",), ("tpu v4",), ("abacus hand-crank",), (None,)], "t string"
    )
    out = fuzzy_match_hardware(df, "t", dim).collect()
    assert out[0]["id_hardware"] == 1 and out[0]["h_compute"] == 312.0
    assert out[0]["hw_similarity"] == 1.0  # containment
    assert out[1]["id_hardware"] == 3
    assert out[2]["id_hardware"] is None  # below 0.90 threshold → nulled
    assert out[2]["hw_similarity"] is not None and out[2]["hw_similarity"] < 0.9
    assert out[3]["id_hardware"] is None


def test_stratified_sample(spark):
    from article_extraction_spark.operators.split import stratified_sample

    df = spark.createDataFrame(
        [(i, "hi" if i % 2 == 0 else "lo") for i in range(2000)], "id long, q string"
    )
    out = stratified_sample(df, "q", {"hi": 1.0, "lo": 0.1}, key="id")
    got = out.groupBy("q").count().collect()
    counts = {r["q"]: r["count"] for r in got}
    assert counts["hi"] == 1000                  # fraction 1.0 keeps everything
    assert 50 <= counts.get("lo", 0) <= 150      # ~10% of 1000, hash-deterministic
    # determinism: identical row set on re-evaluation at another partitioning
    again = stratified_sample(df.repartition(13), "q", {"hi": 1.0, "lo": 0.1}, key="id")
    assert {r["id"] for r in out.collect()} == {r["id"] for r in again.collect()}
    # unknown strata are dropped
    assert stratified_sample(df, "q", {"zz": 1.0}, key="id").count() == 0


def test_domain_mixture_sample(spark):
    """Temperature mixture: exact python-twin multiset equality, alpha
    endpoints (1 → near-natural shares, 0 → near-uniform), determinism
    across partitionings, and the max_repeat cap."""
    import collections
    import hashlib
    import math

    from article_extraction_spark.operators.split import domain_mixture_sample

    data = [(i, (["big"] * 80 + ["mid"] * 16 + ["tiny"] * 4)[i % 100]) for i in range(300)]
    df = spark.createDataFrame(data, "doc_id long, dom string")

    def twin(target, alpha, max_repeat=10):
        n_d = collections.Counter(d for _, d in data)
        z = sum(n ** alpha for n in n_d.values())
        w = {d: target * (n ** alpha) / z / n for d, n in n_d.items()}
        out = collections.Counter()
        for doc_id, dom in data:
            base = min(int(math.floor(w[dom])), max_repeat)
            frac = w[dom] - math.floor(w[dom])
            h4 = hashlib.md5(f"{doc_id}|42".encode()).hexdigest()[:4]
            # ADVICE r5: fractional extra is suppressed once base hits the cap
            extra = (
                1
                if math.floor(w[dom]) < max_repeat
                and h4 < format(int(math.floor(frac * 65536)), "04x")
                else 0
            )
            out[(doc_id, dom)] = base + extra
        return {k: v for k, v in out.items() if v > 0}

    for alpha in (0.0, 0.5, 1.0):
        got = collections.Counter(
            (r["doc_id"], r["dom"])
            for r in domain_mixture_sample(df, "dom", "doc_id", 600, alpha=alpha).collect()
        )
        assert dict(got) == twin(600, alpha), alpha

    # determinism across partitionings
    a = sorted(
        (r["doc_id"], r["copy"])
        for r in domain_mixture_sample(df, "dom", "doc_id", 600).collect()
    )
    b = sorted(
        (r["doc_id"], r["copy"])
        for r in domain_mixture_sample(df.repartition(13), "dom", "doc_id", 600).collect()
    )
    assert a == b

    # alpha=0 upweights the tiny domain hard; the cap bounds replication
    # HARD (ADVICE r5: the fractional extra no longer overshoots the cap)
    capped = domain_mixture_sample(df, "dom", "doc_id", 10000, alpha=0.0, max_repeat=3)
    per_doc = capped.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    assert per_doc <= 3
    got3 = collections.Counter(
        (r["doc_id"], r["dom"])
        for r in domain_mixture_sample(
            df, "dom", "doc_id", 10000, alpha=0.0, max_repeat=3
        ).collect()
    )
    assert dict(got3) == twin(10000, 0.0, max_repeat=3)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="target_rows"):
        domain_mixture_sample(df, "dom", "doc_id", 0)
    with _pytest.raises(ValueError, match="alpha"):
        domain_mixture_sample(df, "dom", "doc_id", 10, alpha=1.5)


def test_winsorize_by_group(spark):
    """Exact-percentile clipping per group: hand-computed bounds on a
    tiny group, NULL passthrough, untouched mid-range values."""
    import pytest as _pytest

    from article_extraction_spark.operators.aggregates import winsorize_by_group

    rows = [("g", float(v)) for v in range(1, 11)] + [("g", None), ("h", 5.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = {
        (r["grp"], r["value"]): r["value_winsor"]
        for r in winsorize_by_group(df, "grp", "value", 0.1, 0.9).collect()
    }
    # group g = 1..10: p10 = 1.9, p90 = 9.1 (linear interpolation)
    assert out[("g", 1.0)] == _pytest.approx(1.9)
    assert out[("g", 10.0)] == _pytest.approx(9.1)
    assert out[("g", 5.0)] == 5.0  # mid-range untouched
    assert out[("g", None)] is None
    assert out[("h", 5.0)] == 5.0  # single-value group maps to itself
    with _pytest.raises(ValueError, match="lo <= hi"):
        winsorize_by_group(df, "grp", "value", 0.9, 0.1)


def test_domain_mixture_null_domain_rows_survive(spark):
    """review r5: NULL domains are a real group — rows must not be
    silently dropped while still deflating other domains' weights."""
    from article_extraction_spark.operators.split import domain_mixture_sample

    data = [(i, "a" if i % 2 == 0 else None) for i in range(200)]
    df = spark.createDataFrame(data, "doc_id long, dom string")
    out = domain_mixture_sample(df, "dom", "doc_id", target_rows=200, alpha=0.5)
    by_dom = {r["dom"]: r["count"] for r in out.groupBy("dom").count().collect()}
    assert None in by_dom and by_dom[None] > 50  # NULL group sampled like any other
    assert abs(sum(by_dom.values()) - 200) < 40  # expectation ~target


def test_winsorize_null_group_passes_through(spark):
    """review r5: NULL group keys keep their rows (clipped within the
    NULL group), not silently dropped."""
    from article_extraction_spark.operators.aggregates import winsorize_by_group

    df = spark.createDataFrame(
        [(None, float(v)) for v in range(1, 11)] + [("g", 3.0)],
        "grp string, value double",
    )
    out = winsorize_by_group(df, "grp", "value", 0.1, 0.9)
    assert out.count() == 11
    nulls = out.where(F.col("grp").isNull())
    assert nulls.count() == 10
    vals = {r["value"]: r["value_winsor"] for r in nulls.collect()}
    assert vals[1.0] == 1.9 and vals[10.0] == 9.1  # clipped within the NULL group


def test_mad_by_group(spark):
    from article_extraction_spark.operators.aggregates import mad_by_group

    df = spark.createDataFrame(
        [("g", float(v)) for v in [1, 2, 3, 4, 100]] + [(None, 5.0), (None, 7.0)],
        "grp string, value double",
    )
    got = {r["grp"]: (r["median"], r["mad"]) for r in mad_by_group(df, "grp", "value").collect()}
    # median 3; deviations [2,1,0,1,97] → median 1 (robust to the outlier)
    assert got["g"] == (3.0, 1.0)
    assert got[None] == (6.0, 1.0)  # NULL group preserved


# -- weighted sampling (round 6) ----------------------------------------------


def _es_twin(rows, k, seed=42):
    """Python twin of weighted_sample's A-ES selection."""
    import hashlib
    import math

    keyed = []
    for rid, w in rows:
        v = int(hashlib.md5(f"{rid}|{seed}".encode()).hexdigest()[:15], 16)
        u = (v + 1) / float(1 << 60)
        keyed.append((math.log(u) / w, rid))
    keyed.sort(key=lambda t: (-t[0], t[1]))
    return [rid for _, rid in keyed[:k]]


def test_weighted_sample_matches_python_twin(spark):
    from article_extraction_spark.operators.split import weighted_sample

    rows = [(i, 1.0 + (i % 7)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = {
        r["doc_id"]: r["sample_rank"]
        for r in weighted_sample(df, "doc_id", "w", k=50).collect()
    }
    want = _es_twin(rows, 50)
    assert sorted(got) == sorted(want)
    assert [i for i, _ in sorted(got.items(), key=lambda t: t[1])] == want  # ranks too


def test_weighted_sample_grouped_and_repartition_stable(spark):
    from article_extraction_spark.operators.split import weighted_sample

    rows = [(i, f"g{i % 3}", 1.0 + (i % 5)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, g string, w double")
    a = weighted_sample(df, "doc_id", "w", k=20, group_cols=["g"])
    b = weighted_sample(df.repartition(13), "doc_id", "w", k=20, group_cols=["g"])
    asel = sorted((r["g"], r["doc_id"], r["sample_rank"]) for r in a.collect())
    bsel = sorted((r["g"], r["doc_id"], r["sample_rank"]) for r in b.collect())
    assert asel == bsel
    counts = {}
    for g, _, _ in asel:
        counts[g] = counts.get(g, 0) + 1
    assert counts == {"g0": 20, "g1": 20, "g2": 20}
    # grouped selection equals the twin restricted to the group
    want_g1 = _es_twin([(i, 1.0 + (i % 5)) for i in range(300) if f"g{i % 3}" == "g1"], 20)
    assert sorted(d for g, d, _ in asel if g == "g1") == sorted(want_g1)


def test_weighted_sample_weights_bias_selection(spark):
    from article_extraction_spark.operators.split import weighted_sample

    rows = [(i, 20.0 if i < 100 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    picked = [r["doc_id"] for r in weighted_sample(df, "doc_id", "w", k=100).collect()]
    heavy = sum(1 for d in picked if d < 100)
    assert heavy > 50  # 100 heavy rows at 20x weight dominate 900 light ones


def test_weighted_sample_bad_weight_raises(spark):
    import pytest as _pytest

    from article_extraction_spark.operators.split import weighted_sample

    df = spark.createDataFrame([(1, 1.0), (2, 0.0)], "doc_id long, w double")
    with _pytest.raises(Exception, match="non-positive"):
        weighted_sample(df, "doc_id", "w", k=1).collect()
    df2 = spark.createDataFrame([(1, 1.0), (2, None)], "doc_id long, w double")
    with _pytest.raises(Exception, match="non-positive"):
        weighted_sample(df2, "doc_id", "w", k=1).collect()


def test_weighted_sample_ungrouped_plan_is_take_ordered(spark):
    from article_extraction_spark.operators.split import weighted_sample

    df = spark.createDataFrame([(i, 1.0) for i in range(100)], "doc_id long, w double")
    plan = weighted_sample(df, "doc_id", "w", k=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
