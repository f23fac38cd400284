"""Multi-dimensional clustering: z-order (round 4).

Partition pruning (lsh/ivf layouts) skips directories on ONE key. Range
queries over several numeric columns need a different layout: interleave
the columns' bits into a space-filling z-value, range-partition and sort
the table by it. Written through a ``ManifestTable``, each file's
``_stats.json`` box is then tight, so ``read_pruned`` touches only the
few files whose stats intersect a box predicate — the mechanism
behind Delta/Iceberg data skipping (public: Morton 1966 z-curves; the
OPTIMIZE ZORDER BY pattern).

Everything is native expressions: the z-value is a sum of shift/mask
terms (whole-stage codegen'd), the layout is repartitionByRange +
sortWithinPartitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zvalue_col(cols: list[str], mins: list[float], maxs: list[float], bits: int = 16):
    """Morton z-value of ``cols`` as ONE native LongType expression.

    Each column is linearly ranked into [0, 2^bits) against the given
    [min, max] (clamped — out-of-range rows sort to the curve's edge,
    never error), then the ranks' bits interleave: bit b of column i
    lands at position b*ncols + i. bits·ncols must stay ≤ 63."""
    n = len(cols)
    if bits * n > 63:
        raise ValueError(f"bits*ncols = {bits * n} exceeds a signed long")
    top = (1 << bits) - 1
    ranks = []
    for c, lo, hi in zip(cols, mins, maxs):
        span = float(hi) - float(lo)
        if span <= 0:
            ranks.append(F.lit(0).cast("long"))
            continue
        scaled = (F.col(c).cast("double") - float(lo)) / span * top
        ranks.append(
            F.least(F.lit(top), F.greatest(F.lit(0), F.floor(scaled))).cast("long")
        )
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, r in enumerate(ranks):
            z = z + F.shiftleft(F.shiftright(r, b).bitwiseAND(F.lit(1)), b * n + i)
    return z


def zorder_clustered(df: DataFrame, cols: list[str], n_files: int) -> DataFrame:
    """``df`` laid out in z-order on ``cols``: one aggregate computes the
    columns' min/max (the ranking domain), then repartitionByRange on the
    z-value gives each of ``n_files`` partitions a contiguous z-range —
    a TIGHT box in column space — sorted within the partition."""
    agg = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"mn_{i}") for i, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"mx_{i}") for i, c in enumerate(cols)],
    ).first()
    mins = [agg[f"mn_{i}"] for i in range(len(cols))]
    maxs = [agg[f"mx_{i}"] for i in range(len(cols))]
    if any(v is None for v in mins + maxs):
        raise ValueError("z-order columns contain only NULLs (no min/max domain)")
    return (
        df.withColumn("_z", zvalue_col(cols, mins, maxs))
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
