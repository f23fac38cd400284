"""Skew handling and the partitioning policy (north rule: AQE skew-join
hints + salting; pipeline/partitioning.py decides every fan-out).

AQE's skew-join splitting triggers on runtime partition sizes; thresholds
are lowered so the tiny fixture exhibits it, and the FINAL adaptive plan is
inspected after execution."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"

_SKEW_CONFS = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ path
}


@pytest.fixture()
def skew_spark(spark):
    # runtime-settable SQL confs on the SHARED session (creating a second
    # local session would getOrCreate the same one and stopping it would
    # kill every later test)
    old = {k: spark.conf.get(k, None) for k in _SKEW_CONFS}
    for k, v in _SKEW_CONFS.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join(skew_spark):
    spark = skew_spark
    # 50k rows of key 0 vs ~50 rows per other key
    left = spark.range(0, 55_000).select(
        F.when(F.col("id") < 50_000, 0).otherwise(F.col("id") % 100).alias("k"),
        F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("v"),
    )
    right = spark.range(0, 100).select(F.col("id").alias("k"), F.lit("dim").alias("d"))
    joined = left.join(right, "k")
    # execute the join's OWN query (count() would wrap it in an aggregate
    # and finalize a different adaptive plan)
    assert len(joined.collect()) == 55_000
    final_plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final_plan
    assert "skew=true" in final_plan, final_plan[:2000]


def test_salting_spreads_hot_conversation(skew_spark):
    """The engine's own salting (independent of AQE): a conversation holding
    90% of rows spreads across every partition at turn level."""
    from article_extraction_spark.pipeline.partitioning import salted_repartition

    spark = skew_spark
    df = spark.range(0, 10_000).select(
        F.when(F.col("id") < 9_000, "conv-hot").otherwise(F.concat(F.lit("c"), F.col("id"))).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
    )
    spread = salted_repartition(df, 8, "conv_id", "turn_idx")
    sizes = [
        r["count"]
        for r in spread.withColumn("p", F.spark_partition_id()).groupBy("p").count().collect()
    ]
    assert len(sizes) == 8
    assert max(sizes) < 2 * min(sizes), sizes


def test_byte_balanced_partitions_sources(spark, monkeypatch):
    """The extraction width is whole waves of cores, sized from the plan's
    own size statistic: a small file scan and an in-memory frame (whose size
    Spark does not know) each get one wave, and deciding starts no Spark
    job. An input needing between one and two waves gets two; the
    ``MAX_PARTITIONS`` cap still holds."""
    from article_extraction_spark.pipeline import partitioning as P

    sc = spark.sparkContext
    wave = sc.defaultParallelism
    path = f"{SF}/documents.parquet"
    docs = spark.read.parquet(path)
    mem = spark.createDataFrame([("c", "y" * 200_000)], "conv_id string, text string")
    group = "extraction-width-decision"
    sc.setJobGroup(group, "byte_balanced_partitions on a scan and an in-memory frame")
    try:
        widths = [P.byte_balanced_partitions(docs), P.byte_balanced_partitions(mem)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert widths == [wave, wave]
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    # the scan's statistic is its file size: a target that makes it need
    # one and a half waves of tasks rounds up to two whole waves
    payload = os.path.getsize(path)
    monkeypatch.setattr(P, "TARGET_PARTITION_BYTES", payload // (wave + wave // 2))
    assert P.byte_balanced_partitions(docs) == 2 * wave
    monkeypatch.setattr(P, "MAX_PARTITIONS", wave + 1)
    assert P.byte_balanced_partitions(docs) == wave + 1  # max clamp


def test_fan_out_small_scan_starts_no_job(spark):
    """Deciding a fan-out runs no Spark job. A frame that already shuffles
    (an aggregate) comes back unchanged for AQE to size at runtime; a
    single-split scan is still round-robined to ``defaultParallelism``."""
    from article_extraction_spark.pipeline.partitioning import fan_out_small_scan

    sc = spark.sparkContext
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    agg = docs.groupBy("lang").count()
    scan = docs.select("doc_id", "text")
    group = "fan-out-decision"
    sc.setJobGroup(group, "fan_out_small_scan on an aggregate and a scan")
    try:
        kept = fan_out_small_scan(agg)
        spread = fan_out_small_scan(scan)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert kept is agg
    assert scan.rdd.getNumPartitions() == 1
    assert spread.rdd.getNumPartitions() == sc.defaultParallelism


def test_partition_count_decided_in_one_module():
    """Only pipeline/partitioning.py decides fan-out widths: no other engine
    module, job or driver query reads a frame's partition count (which
    can execute upstream stages under AQE)."""
    root = Path(__file__).resolve().parent.parent
    sources = [
        *(root / "article_extraction_spark").rglob("*.py"),
        root / "__spark_entry__.py",
        *(root / "jobs").rglob("*.py"),
    ]
    policy = root / "article_extraction_spark" / "pipeline" / "partitioning.py"
    offenders = [
        str(p.relative_to(root))
        for p in sources
        if p != policy and "getNumPartitions(" in p.read_text()
    ]
    assert offenders == []


def test_extraction_width_decided_in_one_place():
    """Only ``byte_balanced_partitions`` sizes the extraction exchange: no
    engine module, job, tool, driver query or bench pins a width on
    ``convert_transcripts``/``run_with_checkpoint`` (forwarding the
    caller's own ``num_partitions`` is allowed) or on ``ordered_output``,
    whose range exchange AQE sizes."""
    root = Path(__file__).resolve().parent.parent
    sources = [
        *(root / "article_extraction_spark").rglob("*.py"),
        *(root / "jobs").rglob("*.py"),
        *(root / "tools").rglob("*.py"),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]
    # positional args beyond these counts are widths
    max_args = {"convert_transcripts": 1, "run_with_checkpoint": 6, "ordered_output": 1}
    offenders = []
    for p in sources:
        for node in ast.walk(ast.parse(p.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
            if name not in max_args:
                continue
            pinned = len(node.args) > max_args[name] or any(
                kw.arg == "num_partitions"
                and not (isinstance(kw.value, ast.Name) and kw.value.id == "num_partitions")
                for kw in node.keywords
            )
            if name == "ordered_output":
                pinned = pinned or bool(node.keywords)
            if pinned:
                offenders.append(f"{p.relative_to(root)}:{node.lineno}")
    assert offenders == []


def test_asof_join_mega_key_two_phase(spark):
    """VERDICT r3 item 7: one mega-key (10^6 left rows, one conversation)
    serializes the plain as-of window into a single task; skew_buckets=N
    fans phase 1 out over (key, time-bucket). Checks: exact equality with
    the plain path, and the bucketed union really spreads across buckets."""
    import time

    from article_extraction_spark.operators.sessions import asof_join

    n = 1_000_000
    left = spark.range(n).select(
        F.lit("megaconv").alias("k"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.col("id").alias("seq"),
    )
    right = spark.range(0, n, 997).select(
        F.lit("megaconv").alias("k"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        (F.col("id") * 2).alias("quote"),
    )
    t0 = time.time()
    skewed = asof_join(left, right, "k", "ts", skew_buckets=64)
    agg_skew = skewed.agg(
        F.count("*").alias("n"),
        F.sum("quote_asof").alias("s"),
        F.sum(F.hash("seq", "quote_asof").cast("long")).alias("h"),
    ).first()
    skewed._retained_cache.unpersist(blocking=True)
    elapsed = time.time() - t0
    assert agg_skew["n"] == n
    # completes within bound even with one mega-key (plain path would be a
    # single task; this must not be pathological either way on local[32])
    assert elapsed < 120, f"two-phase asof took {elapsed:.1f}s"

    plain = asof_join(left, right, "k", "ts")
    agg_plain = plain.agg(
        F.count("*").alias("n"),
        F.sum("quote_asof").alias("s"),
        F.sum(F.hash("seq", "quote_asof").cast("long")).alias("h"),
    ).first()
    assert (agg_skew["n"], agg_skew["s"], agg_skew["h"]) == (
        agg_plain["n"], agg_plain["s"], agg_plain["h"],
    )


def test_asof_join_auto_skew_detection(spark):
    """VERDICT r3 item 6: skew_buckets="auto" — a sampled key histogram
    flips to the two-phase path for a hot key and stays on the plain
    single-window path for uniform keys, with no manual bucket count.
    Path choice is asserted via the physical plan (width_bucket only
    exists in the two-phase carry); results must equal the plain path."""
    from article_extraction_spark.operators.sessions import asof_join

    # hot: one key holds 40k rows (threshold lowered to keep the test fast)
    n = 40_000
    left = spark.range(n).select(
        F.lit("hotconv").alias("k"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.col("id").alias("seq"),
    )
    right = spark.range(0, n, 131).select(
        F.lit("hotconv").alias("k"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        (F.col("id") * 3).alias("quote"),
    )
    auto = asof_join(
        left, right, "k", "ts",
        skew_buckets="auto", skew_threshold=5_000, skew_sample_fraction=0.1,
    )
    assert "width_bucket" in auto._jdf.queryExecution().executedPlan().toString().lower() or \
        "width_bucket" in auto._jdf.queryExecution().analyzed().toString().lower(), \
        "auto probe did not flip the hot key to the two-phase path"
    agg_auto = auto.agg(
        F.count("*").alias("n"), F.sum("quote_asof").alias("s"),
        F.sum(F.hash("seq", "quote_asof").cast("long")).alias("h"),
    ).first()
    auto._retained_cache.unpersist(blocking=True)
    plain = asof_join(left, right, "k", "ts")
    agg_plain = plain.agg(
        F.count("*").alias("n"), F.sum("quote_asof").alias("s"),
        F.sum(F.hash("seq", "quote_asof").cast("long")).alias("h"),
    ).first()
    assert tuple(agg_auto) == tuple(agg_plain)

    # uniform: 400 keys × 100 rows — probe must choose the plain path
    uni_left = spark.range(n).select(
        (F.col("id") % 400).cast("string").alias("k"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.col("id").alias("seq"),
    )
    uni_right = spark.range(0, n, 57).select(
        (F.col("id") % 400).cast("string").alias("k"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        (F.col("id") * 3).alias("quote"),
    )
    auto_uni = asof_join(
        uni_left, uni_right, "k", "ts",
        skew_buckets="auto", skew_threshold=5_000, skew_sample_fraction=0.1,
    )
    assert "width_bucket" not in auto_uni._jdf.queryExecution().analyzed().toString().lower(), \
        "auto probe fanned out a uniform key distribution"
    plain_uni = asof_join(uni_left, uni_right, "k", "ts")
    a = auto_uni.orderBy("seq").collect()
    auto_uni._retained_cache.unpersist(blocking=True)
    assert a == plain_uni.orderBy("seq").collect()


def test_sessionize_two_phase_parity_random(spark):
    """Two-phase session numbering must equal the single-window numbering
    row for row across a random event sweep (multiple users, ties, gaps
    straddling bucket boundaries)."""
    import numpy as np

    from article_extraction_spark.operators.sessions import sessionize

    rng = np.random.RandomState(3)
    rows = []
    base = 1_700_000_000
    for u in range(6):
        t = base + rng.randint(0, 500)
        for i in range(rng.randint(50, 200)):
            # mixture of small steps and occasional > gap jumps; some ties
            step = int(rng.choice([0, 5, 60, 300, 2400, 7200], p=[.1, .3, .3, .15, .1, .05]))
            t += step
            rows.append((f"u{u}", t, i))
    df = spark.createDataFrame(rows, "user_id string, ts long, seq int")
    plain = sessionize(df, gap_minutes=30.0)
    for n_buckets in (3, 8, 17):
        two = sessionize(df, gap_minutes=30.0, skew_buckets=n_buckets)
        a = sorted(
            (r["user_id"], r["ts"], r["seq"], r["session_id"]) for r in two.collect()
        )
        two._retained_cache.unpersist(blocking=True)
        b = sorted(
            (r["user_id"], r["ts"], r["seq"], r["session_id"]) for r in plain.collect()
        )
        assert a == b, f"n_buckets={n_buckets}"


def test_sessionize_auto_skew_single_hot_key(spark):
    """VERDICT r4 #7: a 10⁶-row single-user stream sessionizes through the
    two-phase path with NO manual flag (auto probe flips it); result
    equals the closed-form expected session numbering. A uniform key
    distribution stays on the plain single-window path (plan-asserted via
    width_bucket, the two-phase marker)."""
    from article_extraction_spark.operators.sessions import sessionize

    n = 1_000_000
    gap_every = 1000  # every 1000th event jumps past the gap
    ev = spark.range(n).select(
        F.lit("megauser").alias("user_id"),
        (
            F.lit(1_700_000_000)
            + F.col("id") * 10
            + (F.col("id") / gap_every).cast("long") * 10_000
        ).alias("ts"),
        F.col("id").alias("seq"),
    )
    auto = sessionize(ev, gap_minutes=30.0, skew_buckets="auto",
                      skew_threshold=100_000, skew_sample_fraction=0.01)
    plan = auto._jdf.queryExecution().analyzed().toString().lower()
    assert "width_bucket" in plan, "hot key did not flip to two-phase"
    got = auto.agg(
        F.count("*").alias("n"),
        F.max("session_id").alias("mx"),
        F.sum(F.hash("seq", "session_id").cast("long")).alias("h"),
    ).first()
    # session k+1 starts at every gap_every boundary: ids 1..n/gap_every
    assert got["n"] == n and got["mx"] == n // gap_every
    # exact per-row expectation: session_id = seq // gap_every + 1
    wrong = auto.where(
        F.col("session_id") != (F.col("seq") / gap_every).cast("long") + 1
    ).count()
    auto._retained_cache.unpersist(blocking=True)
    assert wrong == 0

    # uniform distribution: probe must keep the plain path
    uni = spark.range(100_000).select(
        (F.col("id") % 500).cast("string").alias("user_id"),
        (F.lit(1_700_000_000) + F.col("id")).alias("ts"),
        F.col("id").alias("seq"),
    )
    auto_uni = sessionize(uni, gap_minutes=30.0, skew_buckets="auto",
                          skew_threshold=100_000, skew_sample_fraction=0.05)
    assert "width_bucket" not in auto_uni._jdf.queryExecution().analyzed().toString().lower()
    auto_uni._retained_cache.unpersist(blocking=True)
