"""Count-min / HLL sketches: python-twin replay, classic guarantees, merge."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from article_extraction_spark.operators.sketches import (
    cm_build,
    cm_estimate,
    cm_merge,
    hll_estimate,
    hll_merge,
    hll_registers,
)

# -- python twins (independent reimplementation of the hash spec) -------------


def _cm_bucket_py(key, i: int, w: int) -> int:
    h = hashlib.md5(f"{i}|{key}".encode()).hexdigest()
    return int(h[:8], 16) % w


def _cm_py(keys, d, w):
    cells: dict[tuple, int] = {}
    for k in keys:
        for i in range(d):
            b = _cm_bucket_py(k, i, w)
            cells[(i, b)] = cells.get((i, b), 0) + 1
    return cells


def _hll_py(keys, b):
    m = 1 << b
    regs: dict[int, int] = {}
    for k in keys:
        h = hashlib.md5(str(k).encode()).hexdigest()
        reg = int(h[:4], 16) % m
        v = int(h[4 : 4 + 15], 16)
        rho = 61 - v.bit_length() if v else 61
        regs[reg] = max(regs.get(reg, 0), rho)
    return regs


def _hll_est_py(regs, b):
    from article_extraction_spark.operators.sketches import hll_raw_numerator

    m = 1 << b
    scale = 1 << 48
    seen_sum = sum(scale >> r if r <= 48 else 0 for r in regs.values())
    zeros = m - len(regs)
    denom_q = seen_sum + zeros * scale
    raw = hll_raw_numerator(b) / float(denom_q)
    import math

    if raw <= 2.5 * m and zeros > 0:
        return float(m) * math.log(float(m) / zeros), True
    return raw, False


# -- count-min ----------------------------------------------------------------


def test_cm_cells_and_estimates_match_python_twin(spark):
    keys = [f"k{i % 37}" for i in range(1000)] + ["hot"] * 200
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    d, w = 4, 256
    cells = cm_build(df, "key", d=d, w=w)
    got = {(r["i"], r["bucket"]): r["cnt"] for r in cells.collect()}
    assert got == _cm_py(keys, d, w)

    cand = spark.createDataFrame([(k,) for k in set(keys)], "key string")
    est = {r["key"]: r["est"] for r in cm_estimate(cells, cand, "key", d=d, w=w).collect()}
    twin_cells = _cm_py(keys, d, w)
    for k in set(keys):
        want = min(twin_cells.get((i, _cm_bucket_py(k, i, w)), 0) for i in range(d))
        assert est[k] == want, k


def test_cm_never_underestimates(spark):
    keys = [f"u{i % 101}" for i in range(2000)]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    cells = cm_build(df, "key", d=3, w=64)  # tiny w forces collisions
    exact = {k: keys.count(k) for k in set(keys)}
    cand = spark.createDataFrame([(k,) for k in exact], "key string")
    for r in cm_estimate(cells, cand, "key", d=3, w=64).collect():
        assert r["est"] >= exact[r["key"]]


def test_cm_merge_equals_single_build(spark):
    a = spark.createDataFrame([(f"k{i}",) for i in range(300)], "key string")
    bdf = spark.createDataFrame([(f"k{i}",) for i in range(200, 500)], "key string")
    merged = cm_merge(cm_build(a, "key", 4, 128), cm_build(bdf, "key", 4, 128))
    whole = cm_build(a.unionByName(bdf), "key", 4, 128)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_cm_null_keys_not_inserted(spark):
    df = spark.createDataFrame([("a",), (None,), ("a",)], "key string")
    cells = cm_build(df, "key", d=2, w=16)
    assert cells.agg(F.sum("cnt")).collect()[0][0] == 4  # 2 rows x d=2


# -- HLL ----------------------------------------------------------------------


def test_hll_registers_and_estimate_match_python_twin(spark):
    keys = [f"user-{i}" for i in range(5000)]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    regs = hll_registers(df, "key", b=8)
    got = {r["register"]: r["max_rho"] for r in regs.collect()}
    assert got == _hll_py(keys, 8)

    est_row = hll_estimate(regs, b=8).collect()[0]
    twin_est, twin_linear = _hll_est_py(_hll_py(keys, 8), 8)
    import math

    assert est_row["est_micro"] == math.floor(twin_est * 1e6)
    assert est_row["used_linear_counting"] == twin_linear


def test_hll_accuracy_within_3_sigma(spark):
    n = 5000
    df = spark.createDataFrame([(f"user-{i}",) for i in range(n)], "key string")
    est = hll_estimate(hll_registers(df, "key", b=8), b=8).collect()[0]["est_micro"] / 1e6
    assert abs(est - n) / n < 0.20  # 3 sigma at m=256 is ~19.5%


def test_hll_small_count_uses_linear_counting_exactly(spark):
    df = spark.createDataFrame([(f"u{i}",) for i in range(10)], "key string")
    row = hll_estimate(hll_registers(df, "key", b=8), b=8).collect()[0]
    assert row["used_linear_counting"]
    assert abs(row["est_micro"] / 1e6 - 10) < 2  # linear counting is near-exact here


def test_hll_merge_equals_single_pass_and_is_grouped(spark):
    a = spark.createDataFrame([(f"x{i}", "g1") for i in range(1000)], "key string, g string")
    b = spark.createDataFrame([(f"x{i}", "g1") for i in range(500, 1500)], "key string, g string")
    merged = hll_merge(
        hll_registers(a, "key", b=8, group_cols=["g"]),
        hll_registers(b, "key", b=8, group_cols=["g"]),
    )
    whole = hll_registers(a.unionByName(b), "key", b=8, group_cols=["g"])
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))
    est = hll_estimate(merged, b=8).collect()
    assert len(est) == 1 and est[0]["g"] == "g1"


def test_hll_null_keys_ignored(spark):
    df = spark.createDataFrame([("a",), (None,)], "key string")
    regs = hll_registers(df, "key", b=8)
    assert regs.count() == 1


def test_maintained_hll_incremental_equals_single_pass(spark, tmp_path):
    """The rollup-maintained register table tracks appends via CDC deltas
    and always equals the single-pass sketch at the source head; a source
    overwrite falls back to full recompute; estimates agree."""
    from article_extraction_spark.catalog import ManifestTable
    from article_extraction_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
        maintained_hll,
    )

    src = ManifestTable(str(tmp_path / "src"))
    regs = ManifestTable(str(tmp_path / "regs"))
    mh = maintained_hll(src, regs, "key", b=8)

    def assert_synced():
        got = sorted(map(tuple, regs.read(spark).select("register", "max_rho").collect()))
        want = sorted(map(tuple, hll_registers(src.read(spark), "key", b=8).collect()))
        assert got == want
        e_got = hll_estimate(regs.read(spark).select("register", "max_rho"), b=8).collect()[0]
        e_want = hll_estimate(hll_registers(src.read(spark), "key", b=8), b=8).collect()[0]
        assert e_got["est_micro"] == e_want["est_micro"]

    src.append(spark.createDataFrame([(f"u{i}",) for i in range(500)], "key string"))
    assert mh.refresh(spark)["mode"] == "full"
    assert_synced()
    src.append(spark.createDataFrame([(f"u{i}",) for i in range(400, 900)], "key string"))
    assert mh.refresh(spark)["mode"] == "incremental"
    assert_synced()
    assert mh.refresh(spark)["mode"] == "noop"
    # overwrite rewrites history -> full recompute, registers can SHRINK
    src.overwrite(spark.createDataFrame([(f"v{i}",) for i in range(50)], "key string"))
    assert mh.refresh(spark)["mode"] == "full"
    assert_synced()


def test_hll_estimate_empty_set_is_zero(spark):
    """Review r6: zero observed keys -> estimate 0 via linear counting,
    never NULL."""
    empty = spark.createDataFrame([], "key string")
    row = hll_estimate(hll_registers(empty, "key", b=8), b=8).collect()[0]
    assert row["est_micro"] == 0 and row["used_linear_counting"] is True


def test_maintained_cm_incremental_equals_single_pass(spark, tmp_path):
    from article_extraction_spark.catalog import ManifestTable
    from article_extraction_spark.operators.sketches import (
        cm_build,
        cm_estimate,
        maintained_cm,
    )

    src = ManifestTable(str(tmp_path / "src"))
    cells = ManifestTable(str(tmp_path / "cells"))
    mc = maintained_cm(src, cells, "key", d=3, w=64)
    src.append(spark.createDataFrame([(f"k{i % 20}",) for i in range(300)], "key string"))
    assert mc.refresh(spark)["mode"] == "full"
    src.append(spark.createDataFrame([(f"k{i % 35}",) for i in range(200)], "key string"))
    assert mc.refresh(spark)["mode"] == "incremental"
    got = sorted(map(tuple, cells.read(spark).select("i", "bucket", "cnt").collect()))
    want = sorted(map(tuple, cm_build(src.read(spark), "key", d=3, w=64).collect()))
    assert got == want
    cand = spark.createDataFrame([(f"k{i}",) for i in range(35)], "key string")
    e_got = sorted(map(tuple, cm_estimate(cells.read(spark).select("i", "bucket", "cnt"), cand, "key", d=3, w=64).collect()))
    e_want = sorted(map(tuple, cm_estimate(cm_build(src.read(spark), "key", d=3, w=64), cand, "key", d=3, w=64).collect()))
    assert e_got == e_want


def test_heavy_hitters_exact_and_pruned(spark):
    """heavy_hitters == the plain GROUP BY ... HAVING query exactly (the
    exact confirm removes collision survivors, count-min's one-sided
    error means no key is ever missed), the filter path is codegen'd
    (no python, no pre-filter shuffle), and the sketch genuinely prunes
    (light keys never reach the confirm)."""
    import math

    import pytest
    from pyspark.sql import functions as F

    from article_extraction_spark.operators.sketches import cm_build, heavy_hitters

    rows = (
        [("hot", i) for i in range(500)]
        + [("warm", i) for i in range(60)]
        + [(f"cold{i % 97}", i) for i in range(400)]  # ~4 rows per cold key
        + [(None, 1)]
    )
    df = spark.createDataFrame(rows, "k string, v long").repartition(8)
    phi = 0.05  # threshold = ceil(0.05 * 960) = 48
    got = {r["k"]: r["cnt"] for r in heavy_hitters(df, "k", phi).collect()}
    n = 960
    t = math.ceil(phi * n)
    want = {
        r["k"]: r["cnt"]
        for r in df.where(F.col("k").isNotNull())
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= t)
        .collect()
    }
    assert got == want == {"hot": 500, "warm": 60}

    # maintained-sketch path: pass cells + total, same result
    cells = cm_build(df, "k")
    got2 = {r["k"]: r["cnt"] for r in heavy_hitters(df, "k", phi, cells=cells, total=n).collect()}
    assert got2 == want

    # the filter is plan-literal + codegen'd: no python, and the only
    # exchange is the post-filter confirm groupBy
    hh = heavy_hitters(df, "k", phi, cells=cells, total=n)
    plan = hh._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan

    with pytest.raises(ValueError, match="phi"):
        heavy_hitters(df, "k", 0.0)
    with pytest.raises(ValueError, match="65536"):
        heavy_hitters(df, "k", 0.5, d=8, w=10000)


def test_heavy_hitters_rejects_geometry_mismatch(spark):
    """Review r7: a caller-passed sketch with different d/w would silently
    drop true heavy hitters (estimates read zero-filled cells) — the
    mismatch must fail loudly instead."""
    import pytest

    from article_extraction_spark.operators.sketches import cm_build, heavy_hitters

    df = spark.createDataFrame([("k1", i) for i in range(100)], "k string, v long")
    wide = cm_build(df, "k", d=4, w=2048)
    with pytest.raises(ValueError, match="geometry"):
        heavy_hitters(df, "k", 0.1, d=4, w=512, cells=wide, total=100)
    shallow = cm_build(df, "k", d=2, w=512)
    with pytest.raises(ValueError, match="depth"):
        heavy_hitters(df, "k", 0.1, d=4, w=512, cells=shallow, total=100)


def test_heavy_hitters_empty_input(spark):
    """An empty input has no sketch cells, and the optimizer removes the
    node that counts its rows: the answer is empty, not a crash."""
    from article_extraction_spark.operators.sketches import heavy_hitters

    assert heavy_hitters(spark.createDataFrame([], "k string"), "k", 0.1).collect() == []
    nulls = spark.createDataFrame([(None,), (None,)], "k string")
    assert heavy_hitters(nulls, "k", 0.1).collect() == []
