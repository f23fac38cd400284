"""Mergeable frequency / cardinality sketches with exact cross-engine replay.

At 100 TB, "how often does each key occur" and "how many distinct keys"
are usually wanted at bounded memory, not exactly: a full
``groupBy(key).count()`` shuffles the whole key domain (billions of URLs /
users / shingles), while a sketch shuffles a FIXED number of cells and
merges associatively across partitions, executors and datasets. Two
classics (public: Cormode & Muthukrishnan 2005 count-min; Flajolet et al.
2007 HyperLogLog), built relationally:

  * count-min: d hash rows × w buckets; insert adds 1 to one cell per
    row, estimate(key) = min over rows of its cells — an overestimate
    bounded by εN with probability 1-δ (w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉).
    Build is a map-side-combined groupBy over ≤ d·w cells.
  * HyperLogLog: register = first b bits of the key hash, rho = leading-
    zero count of the next 60 bits + 1; per register keep max(rho);
    estimate = α_m·m²/Σ2^-M[j] with the standard linear-counting branch.

Determinism contract (what makes these VALUE-oracle-able, not just
rows-only): every hash is md5 hex arithmetic both engines evaluate
identically, and the HLL denominator Σ2^-M[j] — which is order-dependent
in floating point — is quantized per term to integers at scale 2^48
(terms with rho > 48 truncate to 0, deterministically) and summed as
BIGINT, so partial aggregation order cannot perturb the estimate. The
α_m correction and the final division are single IEEE-754 expressions,
identical across engines.

Estimates deliberately differ from exact counts when buckets collide —
the cross-engine oracle replays the SKETCH, not the truth, which is
exactly what proves the implementation.

Spark-shape notes: sketches are DataFrames ((i, bucket, cnt) /
(register, max_rho)); ``*_merge`` is a groupBy sum/max, so per-day or
per-source sketches roll up without touching raw data. Estimate lookups
broadcast the (tiny, ≤ d·w rows) sketch to the candidate keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "cm_build",
    "cm_merge",
    "cm_estimate",
    "heavy_hitters",
    "hll_registers",
    "hll_merge",
    "hll_estimate",
    "hll_raw_numerator",
    "hll_row_projection",
    "maintained_hll",
    "cm_row_projection",
    "maintained_cm",
]

# -- shared md5 arithmetic ----------------------------------------------------


def _hex_to_long(col) -> F.Column:
    """Hex string -> BIGINT; Spark's conv mirrors DuckDB ('0x'||s)::BIGINT
    for inputs below 2^63 (callers pass <=15 hex chars)."""
    return F.conv(col, 16, 10).cast("long")


def _cm_bucket(key_col, i: int, w: int) -> F.Column:
    """Row-i bucket: first 32 hash bits of md5('<i>|<key>') mod w."""
    h = F.md5(F.concat_ws("|", F.lit(str(i)), key_col.cast("string")))
    return F.pmod(_hex_to_long(F.substring(h, 1, 8)), F.lit(w))


# -- count-min ----------------------------------------------------------------


def cm_build(df: DataFrame, key_col: str, d: int = 4, w: int = 2048) -> DataFrame:
    """Count-min cells ``(i, bucket, cnt)`` for the values of ``key_col``
    (NULLs are not inserted — a NULL key is no observation, matching the
    estimate side which can't look one up). One explode(d) + groupBy over
    at most d·w cells; partial aggregation does the map-side combine."""
    rows = df.where(F.col(key_col).isNotNull()).select(F.col(key_col).alias("__k"))
    pairs = rows.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _cm_bucket(F.col("__k"), i, w).alias("bucket"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("c")
    )
    return pairs.groupBy("c.i", "c.bucket").agg(F.count("*").alias("cnt"))


def cm_merge(*sketches: DataFrame) -> DataFrame:
    """Merge sketches built with the SAME (d, w): cell-wise sum."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("i", "bucket").agg(F.sum("cnt").alias("cnt"))


def cm_estimate(
    cells: DataFrame, candidates: DataFrame, key_col: str, d: int = 4, w: int = 2048
) -> DataFrame:
    """Estimated count per candidate key: min over the d rows of the
    key's cell, 0 for a never-touched cell (left join + coalesce). The
    sketch (≤ d·w rows) broadcasts to the candidates, never the other
    way."""
    cand = candidates.select(F.col(key_col).alias("__k")).where(
        F.col("__k").isNotNull()
    ).distinct()
    probes = cand.select(
        "__k",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _cm_bucket(F.col("__k"), i, w).alias("bucket"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("c"),
    ).select("__k", "c.i", "c.bucket")
    joined = probes.join(F.broadcast(cells), ["i", "bucket"], "left").select(
        "__k", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )
    return joined.groupBy("__k").agg(F.min("cnt").alias("est")).select(
        F.col("__k").alias(key_col), F.col("est").cast("long").alias("est")
    )


def heavy_hitters(
    df: DataFrame,
    key_col: str,
    phi: float,
    d: int = 4,
    w: int = 2048,
    cells: DataFrame | None = None,
    total: int | None = None,
) -> DataFrame:
    """φ-heavy hitters with EXACT counts via the count-min filter
    (Cormode & Muthukrishnan 2005 §4, round 7): keys occurring in at
    least ``ceil(phi·N)`` rows.

    The point at 100 TB: a plain ``GROUP BY key HAVING count >= t``
    shuffles the WHOLE key domain; here the sketch's d·w cells fold into
    the row filter as plan literals (``least`` over d ``element_at``
    lookups on native md5 buckets — whole-stage codegen, zero python,
    zero shuffle), so only rows of CANDIDATE keys reach the exact
    confirm groupBy. Count-min never underestimates, so candidates ⊇
    true heavy hitters and the exact confirm makes the result EXACTLY
    equal to the plain HAVING query — collisions only cost extra
    confirmed-then-dropped keys, never a miss.

    ``cells``/``total``: pass a maintained sketch (``maintained_cm``)
    and row count to skip the build pass — the steady-state shape under
    ingest. d·w is capped at 65,536 literal cells (the bloom
    ``literal_max_words`` precedent); size w to the expected heavy-key
    count, not the key domain. Returns (key, cnt), both exact."""
    import math

    if not 0.0 < phi <= 1.0:
        raise ValueError(f"phi must be in (0, 1], got {phi}")
    if d * w > 65536:
        raise ValueError(
            f"d*w = {d * w} literal cells exceeds 65536 — use a smaller sketch "
            "(heavy-hitter filtering needs cell counts, not key-domain width)"
        )
    keyed = df.where(F.col(key_col).isNotNull())
    obs = None
    if total is None and cells is None:
        # r8: fold the row count into the sketch-build pass — cm_build
        # filters NULL keys identically, so building from the observed
        # `keyed` is equivalent and the standalone count scan disappears
        # (2 full passes over the table instead of 3)
        from pyspark.sql import Observation

        obs = Observation()
        keyed = keyed.observe(obs, F.count(F.lit(1)).alias("n"))
        cells_df = cm_build(keyed, key_col, d, w)
    else:
        if total is None:
            total = keyed.count()
        cells_df = cells if cells is not None else cm_build(df, key_col, d, w)
    grid = [[0] * w for _ in range(d)]
    seen_rows = 0
    for r in cells_df.collect():  # ≤ d·w rows by construction
        if r["i"] >= d or r["bucket"] >= w:
            raise ValueError(
                f"cells sketch cell (i={r['i']}, bucket={r['bucket']}) exceeds "
                f"d={d}/w={w} — the passed sketch was built with a different "
                "geometry (probing it would silently miss heavy keys)"
            )
        grid[r["i"]][r["bucket"]] = r["cnt"]
        seen_rows = max(seen_rows, r["i"] + 1)
    if obs is not None:
        # flushed by the cells collect above — unless the input was empty
        # and the optimizer removed the observed node: no cells, no rows
        total = obs.get["n"] if seen_rows else 0
    threshold = max(1, math.ceil(phi * total - 1e-9))
    if cells is not None and seen_rows == 0 and total > 0:
        raise ValueError(
            "cells sketch is EMPTY while the table has rows — a stale or "
            "never-refreshed maintained sketch would silently report zero "
            "heavy hitters; rebuild or refresh it first"
        )
    if cells is not None and seen_rows and seen_rows != d:
        # every row 0..d_real-1 appears in a nonempty sketch, so a depth
        # mismatch is fully detectable; a WIDER probe w than the build w
        # is not (buckets stay in range) — callers must pass the build
        # geometry, which maintained_cm records with its rollup
        raise ValueError(
            f"cells sketch has depth {seen_rows}, expected d={d} — "
            "pass the geometry the sketch was built with"
        )
    arrs = [
        F.expr("array(" + ",".join(f"{v}L" for v in grid[i]) + ")") for i in range(d)
    ]
    est = F.least(
        *[
            F.element_at(
                arrs[i], (_cm_bucket(F.col(key_col), i, w) + 1).cast("int")
            )
            for i in range(d)
        ]
    )
    sliver = keyed.where(est >= threshold)
    # every row of a candidate key passes the filter (est is a pure
    # function of the key), so counting the sliver IS the exact count
    return (
        sliver.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= threshold)
    )


# -- HyperLogLog --------------------------------------------------------------

_HLL_RHO_HEX = 15  # 60 bits of rho material
_HLL_SCALE_BITS = 48  # per-term quantization scale for the denominator sum


def hll_raw_numerator(b: int) -> float:
    """α_m · m² · 2^48 as one python double — the single literal both the
    Spark estimate and any replaying engine must share verbatim."""
    m = 1 << b
    alpha = (
        0.673
        if m == 16
        else 0.697
        if m == 32
        else 0.709
        if m == 64
        else 0.7213 / (1.0 + 1.079 / m)
    )
    return alpha * m * m * float(1 << _HLL_SCALE_BITS)


def _rho_expr(hex_col_name: str) -> F.Column:
    """rho = leading zero BITS of the 60-bit value + 1, via pure string
    arithmetic (no float, no bit_length): 4 bits per leading '0' hex
    char, plus a CASE table for the first non-zero char. The all-zero
    string has no non-zero char (extra = 0) and lz = 60 bits → rho 61."""
    c = hex_col_name
    lz_chars = F.length(F.regexp_extract(F.col(c), "^0*", 0))
    first_nz = F.upper(
        F.expr(f"substr({c}, length(regexp_extract({c}, '^0*', 0)) + 1, 1)")
    )
    extra = (
        F.when(first_nz.isin("8", "9", "A", "B", "C", "D", "E", "F"), 0)
        .when(first_nz.isin("4", "5", "6", "7"), 1)
        .when(first_nz.isin("2", "3"), 2)
        .when(first_nz == "1", 3)
        .otherwise(0)
    )
    return (lz_chars * 4 + extra + 1).cast("int")


def hll_row_projection(
    df: DataFrame, key_col: str, b: int = 8, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-ROW (…, register, __rho) projection — the deterministic per-row
    piece of the sketch, shared by the one-shot build and the
    incrementally-maintained rollup (its ``prepare`` hook)."""
    m = 1 << b
    gcols = list(group_cols or [])
    base = (
        df.where(F.col(key_col).isNotNull())
        .select(*gcols, F.md5(F.col(key_col).cast("string")).alias("__h"))
        .select(
            *gcols,
            F.pmod(_hex_to_long(F.substring("__h", 1, 4)), F.lit(m)).alias("register"),
            F.substring("__h", 5, _HLL_RHO_HEX).alias("__hll_hex"),
        )
    )
    return base.withColumn("__rho", _rho_expr("__hll_hex")).drop("__hll_hex")


def hll_registers(
    df: DataFrame, key_col: str, b: int = 8, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-(group,) register maxima ``(… , register, max_rho)``. b register
    bits (m = 2^b registers, b ≤ 16 so pmod over the first 4 hash hex
    chars is exactly uniform); rho from the next 60 bits. NULL keys are
    not observations."""
    gcols = list(group_cols or [])
    base = hll_row_projection(df, key_col, b, gcols)
    return base.groupBy(*gcols, "register").agg(F.max("__rho").alias("max_rho"))


def cm_row_projection(df: DataFrame, key_col: str, d: int, w: int) -> DataFrame:
    """Row-wise generator (one input row → d cell rows ``(i, bucket)``):
    the per-row piece of the count-min sketch, shared by the one-shot
    build and the maintained rollup. Exploding is legal as a rollup
    ``prepare`` — every output row derives from exactly one input row,
    so CDC-delta cell counts sum correctly."""
    rows = df.where(F.col(key_col).isNotNull()).select(F.col(key_col).alias("__k"))
    return rows.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        _cm_bucket(F.col("__k"), i, w).alias("bucket"),
                    )
                    for i in range(d)
                ]
            )
        ).alias("c")
    ).select("c.i", "c.bucket")


def maintained_cm(source, cells, key_col: str, d: int = 4, w: int = 2048):
    """Count-min cells maintained under append-only ingest: an
    ``IncrementalRollup`` keyed on (i, bucket) with a count aggregate —
    counts are sum-decomposable, so each refresh folds only the NEW
    rows' cell partials (CDC delta; source rewrites → full recompute).
    Estimate any time with ``cm_estimate(cells.read(spark), ...)``."""
    from ..rollup import IncrementalRollup

    return IncrementalRollup(
        source,
        cells,
        keys=["i", "bucket"],
        aggs={"cnt": ("count", None)},
        prepare=lambda df: cm_row_projection(df, key_col, d, w),
    )


def maintained_hll(source, registers, key_col: str, b: int = 8, group_cols=None):
    """Distinct-count sketch maintained under append-only ingest: an
    ``IncrementalRollup`` whose group keys are (…, register) and whose
    single aggregate is max(rho) — max is decomposable, so each refresh
    folds ONLY the new rows' register partials into the stored register
    table (CDC delta via ``read_incremental``; source rewrites fall back
    to a full recompute automatically). Estimate any time with
    ``hll_estimate(registers.read(spark))``. The per-row hashing rides in
    the rollup's ``prepare`` hook, so the source table never stores
    register/rho columns.

    ``source``/``registers``: ManifestTables. Returns the wired
    IncrementalRollup (call ``.refresh(spark)`` after each ingest)."""
    from ..rollup import IncrementalRollup

    gcols = list(group_cols or [])
    return IncrementalRollup(
        source,
        registers,
        keys=[*gcols, "register"],
        aggs={"max_rho": ("max", "__rho")},
        prepare=lambda df: hll_row_projection(df, key_col, b, gcols),
    )


def hll_merge(*register_sets: DataFrame) -> DataFrame:
    """Merge register sets with the same b: register-wise max."""
    out = register_sets[0]
    gcols = [c for c in out.columns if c not in ("register", "max_rho")]
    for s in register_sets[1:]:
        out = out.unionByName(s)
    return out.groupBy(*gcols, "register").agg(F.max("max_rho").alias("max_rho"))


def hll_estimate(registers: DataFrame, b: int = 8) -> DataFrame:
    """Distinct-count estimate per group (one row per group; one row
    total when ungrouped). The denominator is summed as quantized
    BIGINTs (2^(48-rho) per register, rho > 48 truncates to 0; the
    m - n_seen empty registers contribute 2^48 each), so the result is
    bit-stable under any aggregation order — see module docstring."""
    m = 1 << b
    gcols = [c for c in registers.columns if c not in ("register", "max_rho")]
    scale = 1 << _HLL_SCALE_BITS
    # pyspark's F.shiftright wrapper takes only a literal bit count — the
    # SQL function accepts a column, so go through expr
    term = F.when(
        F.col("max_rho") <= _HLL_SCALE_BITS,
        F.expr(f"shiftright(cast({scale} as bigint), max_rho)"),
    ).otherwise(F.lit(0).cast("long"))
    # coalesce: the ungrouped groupBy over ZERO register rows yields one
    # global row with sum=NULL — the empty set must estimate 0 via the
    # linear-counting branch (zeros = m), not propagate NULL (review r6)
    agg = registers.groupBy(*gcols).agg(
        F.coalesce(F.sum(term), F.lit(0).cast("long")).alias("__seen_sum"),
        F.count("*").alias("__n_seen"),
    )
    zeros = F.lit(m).cast("long") - F.col("__n_seen")
    denom_q = F.col("__seen_sum") + zeros * F.lit(scale).cast("long")
    # ONE precomputed double literal for α·m²·2^48 — splitting it into
    # several runtime multiplies would let another engine replaying the
    # formula land one ulp away (cross-engine value-oracle contract)
    raw = F.lit(hll_raw_numerator(b)) / denom_q.cast("double")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    use_linear = (raw <= F.lit(2.5 * m)) & (zeros > 0)
    est = F.when(use_linear, linear).otherwise(raw)
    return agg.select(
        *gcols,
        F.floor(est * 1e6).cast("long").alias("est_micro"),
        use_linear.alias("used_linear_counting"),
    )
