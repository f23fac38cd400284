"""Aggregation operators A1-A8 as reusable plan builders.

Each helper returns a lazily-composed DataFrame; Catalyst handles partial
(map-side) aggregation and AQE sizes the shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_group(df: DataFrame, group: str, order: str) -> DataFrame:
    """A1: last-per-group (latest ``order`` per ``group``) — reference
    country_table.py:61-74 (groupby-idxmax). max_by over a struct keeps the
    whole row with ONE shuffle (no window + second pass)."""
    cols = [c for c in df.columns]
    return (
        df.groupBy(group)
        .agg(F.max_by(F.struct(*[F.col(c) for c in cols if c != group]), F.col(order)).alias("_s"))
        .select(group, "_s.*")
    )


def top_k(df: DataFrame, order: Column, k: int) -> DataFrame:
    """W4/A5: global top-k — orderBy+limit compiles to TakeOrderedAndProject
    (per-partition heaps, no global sort)."""
    return df.orderBy(order.desc()).limit(k)


def aggregate_answers(
    df: DataFrame,
    group: str,
    answer: str,
    score: str,
    mode: str,
    order_col: str | None = None,
) -> DataFrame:
    """A6: answer aggregation modes best | longest | concat (reference
    qa_squad.py:40-48).

    The reference's ``_aggregate`` receives answers in window order:
    ``concat`` joins non-empty answers in list order, and Python ``max``
    breaks best/longest ties in favor of the FIRST element. Pass
    ``order_col`` (the window index) to reproduce that exactly; without it,
    concat falls back to score-descending order and ties break on the answer
    value — deterministic across runs either way (collect_list/max_by order
    alone is not).
    """
    a, s = F.col(answer), F.col(score)
    o = F.col(order_col) if order_col is not None else None
    if mode in ("best", "longest"):
        k = s if mode == "best" else F.length(a)
        # struct key: primary = score/length, tiebreak = first-in-order
        # (-order) when an order exists, else the answer value itself.
        # NULL primary keys must stay NULL keys (max_by ignores them), not
        # become comparable struct(NULL, tie) — a group whose scores are all
        # NULL returns NULL, like bare max_by(a, s) did
        tie = (-o) if o is not None else a
        agg = F.max_by(a, F.when(k.isNotNull(), F.struct(k.alias("k"), tie.alias("t"))))
    elif mode == "concat":
        if o is not None:
            sort_struct = F.struct(o.alias("k1"), (-s).alias("k2"), a.alias("a"))
        else:
            sort_struct = F.struct((-s).alias("k1"), a.alias("k2"), a.alias("a"))
        agg = F.array_join(
            F.filter(
                F.transform(F.array_sort(F.collect_list(sort_struct)), lambda x: x["a"]),
                lambda x: x.isNotNull() & (x != ""),
            ),
            " ",
        )
    else:
        raise ValueError(f"unknown mode {mode!r}")
    return df.groupBy(group).agg(agg.alias("answer"))


def cumulative_mean(df: DataFrame, order: str, value: str, out_col: str = "cum_mean") -> DataFrame:
    """A7: expanding mean over a defined order (reference scores.py:454,
    511-512, 555-558). A GLOBAL window — one task; only for small metric
    tables (the reference's use). For large inputs use
    cumulative_mean_distributed."""
    w = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    return df.withColumn(out_col, F.avg(value).over(w))


def cumulative_mean_distributed(
    df: DataFrame,
    order: str,
    value: str,
    out_col: str = "cum_mean",
    num_partitions: int | None = None,
) -> DataFrame:
    """Scale-safe expanding mean over a global order: two-phase prefix sums.

    Phase 1 range-partitions on the order key and aggregates one (sum,
    count) row PER PARTITION (a tiny driver-side collect — N rows for N
    partitions at any data scale); the exclusive prefix of those totals is
    the per-partition offset. Phase 2 computes the local running sum/count
    with a window partitioned by the range-partition id — every partition
    runs in parallel — and adds the broadcast offsets. No single-task global
    window anywhere in the plan (vs ``cumulative_mean``).

    The range-partitioned input is persisted so both phases see identical
    partition ids; phase 2 still reads it after phase 1's collect, so the
    cache cannot be released here — it is handed to the caller via the
    returned DataFrame's ``_retained_cache`` attribute: ``.unpersist()`` it
    after consuming the result. Ties in the order key land in one partition
    (RangePartitioner), so results are well-defined.
    """
    import itertools

    from pyspark import StorageLevel

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    part = (
        df.repartitionByRange(n, F.col(order))
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = sorted(
        part.groupBy("_pid")
        .agg(F.sum(value).alias("s"), F.count(value).alias("c"))
        .collect(),
        key=lambda r: r["_pid"],
    )
    off_s: dict[int, float] = {}
    off_c: dict[int, int] = {}
    acc_s, acc_c = 0, 0
    for r in totals:
        off_s[r["_pid"]], off_c[r["_pid"]] = acc_s, acc_c
        acc_s += r["s"] or 0
        acc_c += r["c"]
    sum_map = F.create_map(
        *itertools.chain.from_iterable((F.lit(k), F.lit(v)) for k, v in off_s.items())
    )
    cnt_map = F.create_map(
        *itertools.chain.from_iterable((F.lit(k), F.lit(v)) for k, v in off_c.items())
    )
    w = Window.partitionBy("_pid").orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    # coalesce the local sum: an all-NULL local prefix must still carry the
    # prior partitions' running mean (matching the single-task twin); the
    # genuinely-empty case stays NULL via 0/0
    out = part.withColumn(
        out_col,
        (F.coalesce(F.sum(value).over(w), F.lit(0)) + sum_map[F.col("_pid")])
        / (F.count(value).over(w) + cnt_map[F.col("_pid")]),
    ).drop("_pid")
    out._retained_cache = part  # caller releases after consumption
    return out


def winsorize_by_group(
    df: DataFrame,
    group: str,
    value: str,
    lo: float = 0.05,
    hi: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group winsorization (round 5): clip ``value`` to its group's
    exact [lo, hi] percentiles — the robust-stats staple for taming
    heavy-tailed quality/latency columns before aggregation.

    Percentiles use EXACT ``F.percentile`` (linear interpolation — the
    same definition as DuckDB's quantile_cont, verified hash-identical
    by the grouped_quantiles oracle), computed per group in one
    aggregation and broadcast-joined back; NULLs pass through unclipped.
    One group-sized shuffle + one broadcast join — the big side is never
    re-shuffled."""
    if not 0.0 <= lo <= hi <= 1.0:
        raise ValueError(f"need 0 <= lo <= hi <= 1, got ({lo}, {hi})")
    out_col = out_col or f"{value}_winsor"
    bounds = df.groupBy(group).agg(
        F.percentile(value, F.lit(lo)).alias("__plo"),
        F.percentile(value, F.lit(hi)).alias("__phi"),
    )
    clipped = F.when(
        F.col(value).isNull(), F.lit(None).cast("double")
    ).otherwise(F.least(F.greatest(F.col(value), F.col("__plo")), F.col("__phi")))
    # NULL-safe join + drop the duplicate group column (review r5: the
    # plain equi-join silently dropped every NULL-group row, breaking the
    # row-preserving contract)
    bounds = bounds.withColumnRenamed(group, "__grp")
    return (
        df.join(F.broadcast(bounds), F.col(group).eqNullSafe(F.col("__grp")))
        .withColumn(out_col, clipped)
        .drop("__grp", "__plo", "__phi")
    )


def mad_by_group(df: DataFrame, group: str, value: str, scale: float = 1.0) -> DataFrame:
    """Per-group median absolute deviation (round 5) — the robust spread
    companion to winsorize_by_group: MAD = median(|x − median(x)|),
    optionally scaled (1.4826 ≈ the normal-consistency constant). Two
    exact-percentile aggregations with a broadcast join between them;
    NULL values are ignored by the percentiles, like stddev. Returns
    (group, median, mad)."""
    # prefixed temporaries throughout (review r5: an unprefixed 'median'
    # collides with an input column of the same name — winsorize's rule)
    med = df.groupBy(group).agg(F.percentile(value, F.lit(0.5)).alias("__med"))
    med = med.withColumnRenamed(group, "__grp")
    dev = (
        df.join(F.broadcast(med), F.col(group).eqNullSafe(F.col("__grp")))
        .withColumn("__ad", F.abs(F.col(value) - F.col("__med")))
        .groupBy(group, "__med")
        .agg((F.percentile("__ad", F.lit(0.5)) * scale).alias("mad"))
        .withColumnRenamed("__med", "median")
    )
    return dev
