from __future__ import annotations

import datetime as dt

from article_extraction_spark.operators.sessions import asof_join, sessionize


def _ts(minute):
    return dt.datetime(2024, 1, 1, minute // 60, minute % 60)


def test_sessionize_gap(spark):
    rows = [
        (1, _ts(0), 1.0), (1, _ts(10), 2.0), (1, _ts(60), 3.0),  # gap 50 > 30 → new session
        (2, _ts(5), 4.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    out = sessionize(df, gap_minutes=30)
    got = {(r["user_id"], r["ts"].minute + r["ts"].hour * 60): r["session_id"] for r in out.collect()}
    assert got == {(1, 0): 1, (1, 10): 1, (1, 60): 2, (2, 5): 1}
    per_session = out.groupBy("user_id", "session_id").count().collect()
    stats = {(r["user_id"], r["session_id"]): r["count"] for r in per_session}
    assert stats == {(1, 1): 2, (1, 2): 1, (2, 1): 1}


def test_asof_join(spark):
    left = spark.createDataFrame(
        [(1, _ts(5), "a"), (1, _ts(20), "b"), (1, _ts(2), "early"), (2, _ts(9), "c")],
        "user_id long, ts timestamp, ev string",
    )
    right = spark.createDataFrame(
        [(1, _ts(3), 100.0), (1, _ts(10), 200.0), (2, _ts(9), 300.0)],
        "user_id long, ts timestamp, score double",
    )
    for sb in (None, 4):  # plain window and two-phase skew path agree
        res = asof_join(left, right, "user_id", skew_buckets=sb)
        out = {r["ev"]: r["score_asof"] for r in res.collect()}
        if sb is not None:
            res._retained_cache.unpersist()
        assert out["early"] is None    # no right row at or before ts=2
        assert out["a"] == 100.0       # latest right ≤ 5 is ts=3
        assert out["b"] == 200.0       # latest right ≤ 20 is ts=10
        assert out["c"] == 300.0       # equal timestamps match (right ≤ left)


def test_asof_join_null_value_of_matched_row_preserved(spark):
    """A matched right row whose value column is genuinely NULL must yield
    NULL — not a stale value carried from an earlier right row (ADVICE r1:
    per-column last(ignorenulls) skipped NULL-valued matches)."""
    left = spark.createDataFrame(
        [(1, _ts(20), "late"), (1, _ts(4), "mid")],
        "user_id long, ts timestamp, ev string",
    )
    right = spark.createDataFrame(
        [(1, _ts(3), 100.0, "x"), (1, _ts(10), None, "y")],
        "user_id long, ts timestamp, score double, tag string",
    )
    for sb in (None, 4):
        res = asof_join(left, right, "user_id", skew_buckets=sb)
        out = {r["ev"]: (r["score_asof"], r["tag_asof"]) for r in res.collect()}
        if sb is not None:
            res._retained_cache.unpersist()
        assert out["mid"] == (100.0, "x")   # matched ts=3 row
        assert out["late"] == (None, "y")   # matched ts=10: NULL preserved


def test_range_join(spark):
    from article_extraction_spark.operators.sessions import range_join

    left = spark.createDataFrame(
        [(1, _ts(5)), (2, _ts(65)), (3, _ts(130)), (4, _ts(200))],
        "ev long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, _ts(0), _ts(60)), (11, _ts(60), _ts(70)), (12, _ts(125), _ts(140))],
        "win long, start timestamp, stop timestamp",
    )
    got = {(r["ev"], r["win"]) for r in
           range_join(left, right, "ts", "start", "stop", bucket_seconds=600).collect()}
    # ev2 at minute 65 matches window 11 only; boundaries inclusive
    assert got == {(1, 10), (2, 11), (3, 12)}
    # exactly-once: no duplicate pairs even when an interval spans buckets
    rows = range_join(left, right, "ts", "start", "stop", bucket_seconds=60).collect()
    assert len(rows) == len({(r["ev"], r["win"]) for r in rows})
    # no cartesian product in the plan
    plan = range_join(left, right, "ts", "start", "stop")._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_range_join_with_shared_column_names(spark):
    """left and right both carrying 'ts' (and any shared name) must not
    raise AMBIGUOUS_REFERENCE (review r2 finding)."""
    from article_extraction_spark.operators.sessions import range_join

    left = spark.createDataFrame([(1, _ts(5))], "ev long, ts timestamp")
    right = spark.createDataFrame(
        [(10, _ts(0), _ts(60), _ts(0))], "win long, start timestamp, stop timestamp, ts timestamp"
    )
    got = range_join(left, right, "ts", "start", "stop").collect()
    assert len(got) == 1 and got[0]["ev"] == 1 and got[0]["win"] == 10


def test_sessionize_string_timestamps_still_parse(spark):
    """review r5: the auto-skew refactor's cast('double') fallback NULLed
    parsed-string timestamps — every event became its own session."""
    from article_extraction_spark.operators.sessions import sessionize

    rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 10:10:00"),   # within 30-min gap → same session
        (1, "2024-01-01 12:00:00"),   # new session
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string")
    got = sessionize(df, "user_id", "ts", gap_minutes=30.0)
    sessions = {r["ts"]: r["session_id"] for r in got.collect()}
    assert sessions["2024-01-01 10:00:00"] == sessions["2024-01-01 10:10:00"]
    assert sessions["2024-01-01 12:00:00"] != sessions["2024-01-01 10:00:00"]


def test_sessionize_ntz_subsecond_gaps(spark):
    """ADVICE r5: the NTZ numeric image used F.second(), which truncates
    fractions — a true 30.9 s gap computed as 30 s and missed a 30 s
    boundary. extract(SECOND ...) keeps the fraction."""
    import datetime as dt

    from article_extraction_spark.operators.sessions import sessionize

    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, base),
        (1, base + dt.timedelta(seconds=30, microseconds=900_000)),  # 30.9s > 30s gap
        (1, base + dt.timedelta(seconds=60, microseconds=800_000)),  # +29.9s, same
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz")
    got = sorted(sessionize(df, "user_id", "ts", gap_minutes=0.5).collect(),
                 key=lambda r: r["ts"])
    assert got[0]["session_id"] != got[1]["session_id"]  # 30.9 s gap splits
    assert got[1]["session_id"] == got[2]["session_id"]  # 29.9 s gap doesn't
