"""The status-store reader against a tiny local query, and its parsers."""

import pytest

from sparkstats import StatusReader, parse_metric, plan_fingerprint


@pytest.mark.parametrize(
    "text, value",
    [
        ("1,000", 1000.0),
        ("0", 0.0),
        ("15.3 KiB", 15.3 * 1024),
        ("0.0 B", 0.0),
        ("2.5 MiB", 2.5 * 1024**2),
        ("0 ms", 0.0),
        ("total (min, med, max (stageId: taskId))\n7.4 s (209 ms, 1.3 s, 1.3 s (stage 2.0: task 2))", 7.4),
        ("total (min, med, max (stageId: taskId))\n23 ms (10 ms, 12 ms, 12 ms (stage 0.0: task 0))", 0.023),
        ("1.5 m", 90.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_parse_metric_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_metric("3 parsecs")


def test_plan_fingerprint_ignores_ids_and_paths():
    a = "Project [x#12L, y#7] +- Scan parquet [plan_id=3] Location: InMemoryFileIndex(1 paths)[file:/a/b]"
    b = "Project [x#99L, y#1] +- Scan parquet [plan_id=8] Location: InMemoryFileIndex(4 paths)[file:/c/d]"
    assert plan_fingerprint(a) == plan_fingerprint(b)
    assert plan_fingerprint(a) != plan_fingerprint(a.replace("Project", "Filter"))


def _query(spark):
    def passthrough(batches):  # nested, so workers receive it by value
        yield from batches

    df = spark.range(0, 1000, numPartitions=2).selectExpr("id", "cast(id as string) s")
    out = df.repartition(3, "id").mapInArrow(passthrough, df.schema)
    out.write.format("noop").mode("overwrite").save()


def test_snapshot_of_a_shuffle_and_mapinarrow_query(spark):
    reader = StatusReader(spark)
    mark = reader.mark()
    _query(spark)
    snap = reader.since(mark)

    assert len(snap.executions) == 1
    execution = snap.executions[0]
    assert execution["end"] >= execution["start"]
    assert execution["jobs"] and len(snap.jobs) == len(execution["jobs"])

    py = snap.nodes(lambda n: n == "MapInArrow")
    assert len(py) == 1
    metrics = py[0]["metrics"]
    assert metrics["number of output rows"] == 1000
    assert metrics["data sent to Python workers"] > 0
    assert metrics["data returned from Python workers"] > 0
    assert metrics["time to run Python workers"] >= 0

    assert snap.stage_sum("shuffle_write_records") == 1000
    assert snap.stage_sum("shuffle_write_bytes") > 0
    assert snap.node_metric(lambda n: n == "Exchange", "number of partitions") == 3
    for start, end in snap.spark_intervals():
        assert execution["start"] - 1 <= start <= end <= execution["end"] + 1

    reduce = [s for s in snap.completed_stages() if s["shuffle_read_bytes"] > 0]
    q = reader.task_run_quantiles(reduce[0])
    assert len(q) == 3 and q[0] <= q[1] <= q[2]


def test_marks_separate_actions_and_plans_hash_stably(spark):
    reader = StatusReader(spark)
    hashes = []
    for _ in range(2):
        mark = reader.mark()
        _query(spark)
        snap = reader.since(mark)
        assert len(snap.executions) == 1
        hashes.append(snap.executions[0]["plan_hash"])
    assert hashes[0] == hashes[1]
    assert reader.since(reader.mark()).executions == []
