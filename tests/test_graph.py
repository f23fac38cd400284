"""Integer PageRank: python-twin exactness, determinism, structure sanity."""

from __future__ import annotations

import pytest

from article_extraction_spark.operators.graph import pagerank


def _pr_twin(edges, n_iter=3, dp=850, scale=10**9):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    deg: dict = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    r = {x: scale // n for x in nodes}
    base = (scale * (1000 - dp)) // (1000 * n)
    for _ in range(n_iter):
        dt = sum(r[x] for x in nodes if x not in deg)
        dsh = (dt * dp) // (1000 * n)
        c = {x: 0 for x in nodes}
        for u, v in edges:
            c[v] += (r[u] * dp) // (1000 * deg[u])
        r = {x: base + dsh + c[x] for x in nodes}
    return r


def test_pagerank_matches_python_twin_exactly(spark):
    import random

    rng = random.Random(7)
    edges = [(f"n{rng.randrange(40)}", f"n{rng.randrange(50)}") for _ in range(300)]
    edges += [("n3", "n4")] * 3  # parallel edges are part of the spec
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank_scaled"] for r in pagerank(df, n_iter=3).collect()}
    assert got == _pr_twin(edges, 3)


def test_pagerank_repartition_deterministic(spark):
    edges = [(f"a{i % 11}", f"a{(i * 7) % 13}") for i in range(200)]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = sorted(map(tuple, pagerank(df, n_iter=2).collect()))
    b = sorted(map(tuple, pagerank(df.repartition(17), n_iter=2).collect()))
    assert a == b


def test_pagerank_star_hub_ranks_highest_and_mass_conserved(spark):
    edges = [(f"leaf{i}", "hub") for i in range(20)]
    df = spark.createDataFrame(edges, "src string, dst string")
    ranks = {r["node"]: r["rank_scaled"] for r in pagerank(df, n_iter=5).collect()}
    assert ranks["hub"] == max(ranks.values())
    assert ranks["hub"] > 10 * ranks["leaf0"]
    total = sum(ranks.values())
    # integer floors leak < 1 unit per edge+node per round — mass stays ~scale
    assert abs(total - 10**9) < 10**9 * 0.01


def test_pagerank_null_and_empty_reject(spark):
    df = spark.createDataFrame([("a", None)], "src string, dst string")
    with pytest.raises(ValueError, match="NULL edge endpoint"):
        pagerank(df)
    empty = spark.createDataFrame([], "src string, dst string")
    with pytest.raises(ValueError, match="empty"):
        pagerank(empty)


def test_scratch_dir_creates_missing_base(spark, tmp_path, monkeypatch):
    """SPARK_LOCAL_DIRS wins over spark.local.dir (as inside Spark), and a
    base directory Spark never created is made on demand."""
    import os

    from article_extraction_spark.session import scratch_dir

    base = tmp_path / "not-yet" / "local"
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{base},{tmp_path / 'second'}")
    d = scratch_dir(spark, "t-ckpt-")
    assert os.path.isdir(d) and os.path.dirname(d) == str(base)
    assert os.path.basename(d).startswith("t-ckpt-")
