"""Incrementally-maintained rollups (rollup.py): invariant = rollup rows
always equal a full recompute at the cursor snapshot, across appends,
compaction, empty deltas, source rewrites (full-refresh fallback), and
refresh idempotence (atomic cursor)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from article_extraction_spark.catalog import ManifestTable
from article_extraction_spark.rollup import IncrementalRollup

AGGS = {
    "n": ("count", None),
    "sum_v": ("sum", "v"),
    "min_v": ("min", "v"),
    "max_v": ("max", "v"),
}


def _mk(spark, tmp_path):
    source = ManifestTable(str(tmp_path / "src"))
    rollup = ManifestTable(str(tmp_path / "roll"))
    return source, rollup, IncrementalRollup(source, rollup, ["k"], AGGS)


def _rows(spark, k_v_pairs):
    return spark.createDataFrame(k_v_pairs, "k string, v long")


def _expect(spark, source):
    return {
        r["k"]: (r["n"], r["sum_v"], r["min_v"], r["max_v"])
        for r in source.read(spark)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .collect()
    }


def _got(spark, rollup):
    return {
        r["k"]: (r["n"], r["sum_v"], r["min_v"], r["max_v"])
        for r in rollup.read(spark).collect()
    }


def test_bootstrap_then_incremental_appends(spark, tmp_path):
    source, rollup, ir = _mk(spark, tmp_path)
    source.append(_rows(spark, [("a", 1), ("a", 5), ("b", 10)]))
    r1 = ir.refresh(spark)
    assert r1["mode"] == "full"  # bootstrap
    assert _got(spark, rollup) == _expect(spark, source)

    source.append(_rows(spark, [("a", -3), ("c", 7)]))
    source.append(_rows(spark, [("b", 2), ("c", 100)]))
    r2 = ir.refresh(spark)
    assert r2["mode"] == "incremental"
    assert r2["keys_updated"] == 3  # a, b, c all touched
    assert _got(spark, rollup) == _expect(spark, source)
    # untouched-key rows survive the merge untouched: key 'a' values exact
    assert _got(spark, rollup)["a"] == (3, 3, -3, 5)


def test_noop_and_idempotent_rerun(spark, tmp_path):
    source, rollup, ir = _mk(spark, tmp_path)
    source.append(_rows(spark, [("a", 1)]))
    ir.refresh(spark)
    v = rollup.current_snapshot_id()
    out = ir.refresh(spark)  # no new source snapshot
    assert out["mode"] == "noop"
    assert rollup.current_snapshot_id() == v  # no empty commits
    assert _got(spark, rollup) == _expect(spark, source)


def test_compaction_contributes_nothing(spark, tmp_path):
    source, rollup, ir = _mk(spark, tmp_path)
    source.append(_rows(spark, [("a", 1), ("b", 2)]))
    ir.refresh(spark)
    source.append(_rows(spark, [("a", 10)]))
    source.compact(spark, target_bytes=1 << 30)
    out = ir.refresh(spark)
    assert out["mode"] == "incremental"
    assert _got(spark, rollup) == _expect(spark, source)
    assert _got(spark, rollup)["a"] == (2, 11, 1, 10)


def test_source_rewrite_falls_back_to_full(spark, tmp_path):
    source, rollup, ir = _mk(spark, tmp_path)
    source.append(_rows(spark, [("a", 1), ("b", 2)]))
    ir.refresh(spark)
    # MERGE rewrites rows in place: the file-level delta cannot express it
    source.merge(spark, _rows(spark, [("a", 99)]), ["k"])
    out = ir.refresh(spark)
    assert out["mode"] == "full"
    assert _got(spark, rollup) == _expect(spark, source)
    assert _got(spark, rollup)["a"] == (1, 99, 99, 99)
    # and the cursor advanced: next refresh is a noop
    assert ir.refresh(spark)["mode"] == "noop"


def test_empty_append_advances_cursor(spark, tmp_path):
    source, rollup, ir = _mk(spark, tmp_path)
    source.append(_rows(spark, [("a", 1)]))
    ir.refresh(spark)
    source.append(_rows(spark, []))
    out = ir.refresh(spark)
    assert out["mode"] == "incremental" and out["keys_updated"] == 0
    assert ir.refresh(spark)["mode"] == "noop"  # cursor moved atomically
    assert _got(spark, rollup) == _expect(spark, source)


def test_null_values_and_single_sided_keys(spark, tmp_path):
    source, rollup, ir = _mk(spark, tmp_path)
    source.append(
        spark.createDataFrame([("a", None), ("a", 4)], "k string, v long")
    )
    ir.refresh(spark)
    source.append(
        spark.createDataFrame([("a", None), ("b", None)], "k string, v long")
    )
    ir.refresh(spark)
    got = _got(spark, rollup)
    assert got == _expect(spark, source)
    assert got["a"] == (3, 4, 4, 4)  # min/max/sum skip NULLs, count doesn't
    assert got["b"] == (1, None, None, None)


def test_with_mean_and_validation(spark, tmp_path):
    source, rollup, ir = _mk(spark, tmp_path)
    source.append(_rows(spark, [("a", 1), ("a", 2)]))
    ir.refresh(spark)
    m = rollup.read(spark).collect()[0]
    assert m["sum_v"] / m["n"] == 1.5
    with pytest.raises(ValueError, match="unsupported aggregate"):
        IncrementalRollup(source, rollup, ["k"], {"x": ("median", "v")})
    with pytest.raises(ValueError, match="group key"):
        IncrementalRollup(source, rollup, [], AGGS)
    with pytest.raises(ValueError, match="needs a source column"):
        IncrementalRollup(source, rollup, ["k"], {"x": ("sum", None)})
    with pytest.raises(ValueError, match="collides"):
        IncrementalRollup(source, rollup, ["k"], {"k": ("count", None)})


def test_cursor_survives_foreign_commits(spark, tmp_path):
    """A non-refresh writer appending to the rollup table must not wipe
    the cursor — it is recovered by walking the parent chain."""
    source, rollup, ir = _mk(spark, tmp_path)
    source.append(_rows(spark, [("a", 1)]))
    ir.refresh(spark)
    cur = ir.cursor()
    # someone appends an unrelated annotation row directly
    rollup.append(
        spark.createDataFrame(
            [("zz", 0, 0, 0, 0)], "k string, n long, sum_v long, min_v long, max_v long"
        )
    )
    assert ir.cursor() == cur
    source.append(_rows(spark, [("a", 2)]))
    ir.refresh(spark)
    got = _got(spark, rollup)
    assert got["a"] == (2, 3, 1, 2)
    assert got["zz"] == (0, 0, 0, 0)  # foreign row untouched


SUM_AGGS = {"n": ("count", None), "sum_v": ("sum", "v")}


def _sum_expect(spark, source):
    return {
        r["k"]: (r["n"], r["sum_v"])
        for r in source.read(spark)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sum_v"))
        .collect()
    }


def _sum_got(spark, rollup):
    return {r["k"]: (r["n"], r["sum_v"]) for r in rollup.read(spark).collect()}


def test_delete_aware_incremental_refresh(spark, tmp_path):
    """VERDICT r6 #4: MoR equality deletes fold as NEGATIVE partials on a
    count/sum rollup — mode stays "incremental", values equal the full
    recompute, and a fully-deleted group's row disappears (tombstone
    sweep), keeping the rows-equal-full-recompute invariant."""
    source = ManifestTable(str(tmp_path / "src"))
    rollup = ManifestTable(str(tmp_path / "roll"))
    ir = IncrementalRollup(source, rollup, ["k"], SUM_AGGS)
    source.append(_rows(spark, [("a", 1), ("a", 2), ("b", 10), ("c", 5)]))
    assert ir.refresh(spark)["mode"] == "full"  # bootstrap
    # delete one of a's rows and ALL of c's rows
    source.delete(
        spark, spark.createDataFrame([(2,), (5,)], "v long"), ["v"]
    )
    s = ir.refresh(spark)
    assert s["mode"] == "incremental"
    assert _sum_got(spark, rollup) == _sum_expect(spark, source)
    assert "c" not in _sum_got(spark, rollup)  # zero-count group swept
    # interleaved append + delete in ONE window, still incremental
    source.append(_rows(spark, [("b", 7), ("d", 3)]))
    source.delete(spark, spark.createDataFrame([(10,)], "v long"), ["v"])
    s2 = ir.refresh(spark)
    assert s2["mode"] == "incremental"
    assert _sum_got(spark, rollup) == _sum_expect(spark, source)
    # deleting an already-deleted key contributes nothing (no double sub)
    source.delete(spark, spark.createDataFrame([(10,)], "v long"), ["v"])
    s3 = ir.refresh(spark)
    assert s3["mode"] == "incremental"
    assert _sum_got(spark, rollup) == _sum_expect(spark, source)


def test_minmax_rollup_full_recomputes_on_delete(spark, tmp_path):
    """min/max are not delete-decomposable (the deleted row may BE the
    extremum): a delete forces the documented full-recompute fallback,
    and the values still match."""
    source, rollup, ir = _mk(spark, tmp_path)
    source.append(_rows(spark, [("a", 1), ("a", 9), ("b", 4)]))
    ir.refresh(spark)
    source.delete(spark, spark.createDataFrame([(9,)], "v long"), ["v"])
    s = ir.refresh(spark)
    assert s["mode"] == "full"
    assert _got(spark, rollup) == _expect(spark, source)


def test_refresh_across_rewrite_deletes_stays_incremental(spark, tmp_path):
    """rewrite_deletes only materializes deletes the last refresh already
    folded, so a window holding it and an append has no deleted rows:
    even a min/max rollup refreshes incrementally and still equals the
    full recompute."""
    source, rollup, ir = _mk(spark, tmp_path)
    source.append(_rows(spark, [("a", 1), ("a", 9), ("b", 4)]))
    ir.refresh(spark)
    source.delete(spark, spark.createDataFrame([(9,)], "v long"), ["v"])
    assert ir.refresh(spark)["mode"] == "full"  # min/max cannot fold a delete
    source.rewrite_deletes(spark)
    source.append(_rows(spark, [("a", 0), ("c", 7)]))
    s = ir.refresh(spark)
    assert s["mode"] == "incremental"
    assert _got(spark, rollup) == _expect(spark, source)


def test_positional_delete_falls_back_to_full(spark, tmp_path):
    """Positional deletes can't be re-keyed as a logical delta — the
    count/sum rollup answers them with a full recompute."""
    source = ManifestTable(str(tmp_path / "src"))
    rollup = ManifestTable(str(tmp_path / "roll"))
    ir = IncrementalRollup(source, rollup, ["k"], SUM_AGGS)
    source.append(_rows(spark, [("a", 1), ("a", 1), ("b", 4)]).coalesce(1))
    ir.refresh(spark)
    source.delete_positions_where(spark, F.col("v") == 4)
    s = ir.refresh(spark)
    assert s["mode"] == "full"
    assert _sum_got(spark, rollup) == _sum_expect(spark, source)


def test_delete_aware_sweep_heals_after_crash(spark, tmp_path):
    """A crash between the fold commit and the tombstone sweep leaves
    value-correct count==0 rows; the NEXT refresh sweeps them before
    doing anything else."""
    source = ManifestTable(str(tmp_path / "src"))
    rollup = ManifestTable(str(tmp_path / "roll"))
    ir = IncrementalRollup(source, rollup, ["k"], SUM_AGGS)
    source.append(_rows(spark, [("a", 1), ("c", 5)]))
    ir.refresh(spark)
    source.delete(spark, spark.createDataFrame([(5,)], "v long"), ["v"])
    real_sweep = ir._sweep_tombstones
    def crashing_sweep(spark_, count_out):
        raise RuntimeError("simulated crash before sweep")
    ir._sweep_tombstones = crashing_sweep
    with pytest.raises(RuntimeError, match="simulated crash"):
        ir.refresh(spark)  # fold commits (flagged), the sweep dies
    ir._sweep_tombstones = real_sweep
    # tombstone visible (value-correct), manifest flag says sweep owed
    assert _sum_got(spark, rollup)["c"][0] == 0
    assert ir._sweep_needed()
    s = ir.refresh(spark)
    assert s["mode"] == "noop"
    assert "c" not in _sum_got(spark, rollup)
    assert _sum_got(spark, rollup) == _sum_expect(spark, source)
    # swept: later refreshes pay NO start-of-refresh scan
    assert not ir._sweep_needed()


def test_sweep_flag_only_when_tombstones_exist(spark, tmp_path):
    """Review r7 second pass: a delete that empties NO group must not
    leave the needs-sweep flag on the head — otherwise every later
    refresh pays the heal scan the flag exists to avoid."""
    source = ManifestTable(str(tmp_path / "src"))
    rollup = ManifestTable(str(tmp_path / "roll"))
    ir = IncrementalRollup(source, rollup, ["k"], SUM_AGGS)
    source.append(_rows(spark, [("a", 1), ("a", 2), ("b", 10)]))
    ir.refresh(spark)
    # delete ONE of a's rows: group survives, no tombstone possible
    source.delete(spark, spark.createDataFrame([(2,)], "v long"), ["v"])
    s = ir.refresh(spark)
    assert s["mode"] == "incremental"
    assert not ir._sweep_needed()  # no zero-count rows -> no flag
    assert _sum_got(spark, rollup) == _sum_expect(spark, source)
