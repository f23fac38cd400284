"""The engine's one partitioning policy: how wide a CPU-heavy per-row stage
runs, and whether it gets a balancing exchange, is decided here only.

  * Keyed extraction rows: a salted hash on (conv_id, turn_idx)
    (``salted_repartition``), in as many whole waves of cores as the
    payload bytes need, read from the plan's size statistic
    (``byte_balanced_partitions``). The extraction map is row-local, so the
    finest safe salt is per-turn: a mega-conversation with 10^6 turns spreads
    across every partition instead of stragglering one task.
  * Every other CPU-heavy per-row stage: ``fan_out_small_scan`` round-robins
    a scan-rooted plan that has fewer splits than cores out to all cores.
  * A plan that already shuffles is left to AQE (enabled in session.py),
    which sizes and re-splits its partitions from runtime statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# target plan bytes per extraction task. It sets the width only: what a
# Python worker holds at once is bounded by the Arrow batch size
# (spark.sql.execution.arrow.maxRecordsPerBatch, session.ENGINE_CONF)
TARGET_PARTITION_BYTES = 64 * 1024 * 1024
MAX_PARTITIONS = 100_000


def bucket_col(key: Column, n_buckets: int) -> Column:
    """Deterministic hash bucket: pmod(xxhash64(key, 0), n)."""
    return F.pmod(F.xxhash64(key, F.lit(0)), F.lit(n_buckets)).cast("int")


def salted_repartition(df: DataFrame, num_partitions: int, *keys: str) -> DataFrame:
    """Repartition on a hash of ``keys`` (turn-level by default)."""
    cols = [F.col(k) for k in keys] or [F.col("conv_id"), F.col("turn_idx")]
    return df.repartition(num_partitions, F.xxhash64(*cols, F.lit(0)))


def byte_balanced_partitions(df: DataFrame) -> int:
    """Width of the extraction exchange: whole waves of cores, enough of
    them that no task carries more than ``TARGET_PARTITION_BYTES`` of
    payload, at most ``MAX_PARTITIONS``.

    The payload size is the optimized plan's own ``sizeInBytes`` statistic,
    taken as it is — file sizes for a scan on any filesystem, in-memory
    sizes for a cached relation — so deciding starts no Spark job. A
    size Spark does not know (it reports ``spark.sql.defaultSizeInBytes``)
    counts as one wave. A partial last wave would leave cores idle while
    costing each extra task the Python boundary's fixed setup, so the width
    only grows by whole waves."""
    jdf = df._jdf
    size = jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if size >= jdf.sparkSession().sessionState().conf().defaultSizeInBytes():
        size = 0
    wave = df.sparkSession.sparkContext.defaultParallelism
    waves = -(-int(size) // (TARGET_PARTITION_BYTES * wave))
    return min(MAX_PARTITIONS, max(1, waves) * wave)


def fan_out_small_scan(df: DataFrame) -> DataFrame:
    """Balance a CPU-dense per-row stage rooted at a scan (r8, guide §2.5
    "input skew"). A small parquet table plans to a handful of splits (one
    small file = one row group = ONE task), so regex/HOF/Arrow work above it
    runs nearly serially on a many-core session. Round-robins to
    ``defaultParallelism`` ONLY when the scan plans fewer splits; at
    production scale inputs already split past core count and this adds no
    exchange. Project the needed columns BEFORE calling, so the balancing
    exchange carries minimal bytes (guide §2.3).

    A plan that already shuffles is returned unchanged: counting its
    partitions would execute the upstream stages, and AQE sizes them at
    runtime anyway. AQE wraps every such plan (and every plan over a cached
    shuffle) in an ``AdaptiveSparkPlan`` node. An exchange-free plan's split
    count comes from file listing alone, so this starts no Spark job."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    if len(plan.execute().partitions()) >= par:
        return df
    return df.repartition(par)
