"""Driver-faithful strict correctness gate (VERDICT r7 #2).

Replicates the driver's comparator semantics instead of a lenient value
diff (which hid four rounds of representation drift):

  * both sides materialize as pandas frames (``duckdb .df()`` vs Spark
    ``toPandas()``),
  * rows are canonicalized by a full-column sort,
  * the compare is DTYPE-SENSITIVE: an int64 column on one side and a
    float64 on the other FAILS even when the values are numerically equal
    (the driver hashes the pandas representation, so ``32`` != ``32.0``),
  * any list/array-typed result column FAILS outright — the driver's
    canonicalizer crashes on unhashable cells (CORRECTNESS_r07
    ``exact_dup_groups`` err), so such a query can never score green.

A lenient value diff is available as a secondary diagnostic
(``--explain`` prints the first differing cells).

Usage: python tools/check_oracle_strict.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entrymod
from article_extraction_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Full-column sort + index reset — the driver's canonical form.

    Raises TypeError on list-valued cells exactly like the driver's
    ``sort_values`` does (pandas factorizes object columns)."""
    cols = sorted(df.columns)
    df = df[cols]
    return df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def _dtype_key(s: pd.Series) -> str:
    """Comparable dtype label: the KIND (int vs float vs object), not the
    width — the driver's hash is value-representation-sensitive (32 vs
    32.0) but scored int32-vs-int64 columns green in every round (e.g.
    bm25's query_id), so width mismatches are not defects."""
    return s.dtype.kind


def compare(sdf_pd: pd.DataFrame, ddf_pd: pd.DataFrame, explain: bool = False) -> list[str]:
    problems: list[str] = []
    if sorted(sdf_pd.columns) != sorted(ddf_pd.columns):
        return [f"cols spark={sorted(sdf_pd.columns)} duck={sorted(ddf_pd.columns)}"]
    if len(sdf_pd) != len(ddf_pd):
        return [f"rowcount spark={len(sdf_pd)} duck={len(ddf_pd)}"]
    # list/array-typed columns crash the driver's canonicalizer
    for side, frame in (("spark", sdf_pd), ("duck", ddf_pd)):
        for c in frame.columns:
            if frame[c].dtype == object and len(frame):
                v = frame[c].iloc[0]
                if isinstance(v, (list, np.ndarray)):
                    problems.append(f"list-typed column {c!r} on {side} side (driver canon crash)")
    if problems:
        return problems
    try:
        a, b = _canon(sdf_pd), _canon(ddf_pd)
    except TypeError as exc:
        return [f"canonicalize crash (driver err): {exc}"]
    for c in a.columns:
        da, db = _dtype_key(a[c]), _dtype_key(b[c])
        if da != db:
            problems.append(f"dtype mismatch {c!r}: spark={da} duck={db}")
    if problems:
        return problems
    # value compare on the canonical frames, NaN-safe, exact for ints,
    # tolerance-free for floats (the driver hashes exact reprs)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f":
            eq = (av.values == bv.values) | (pd.isna(av.values) & pd.isna(bv.values))
        else:
            eq = (av.values == bv.values) | (pd.isna(av).values & pd.isna(bv).values)
        if not bool(np.all(eq)):
            idx = int(np.argmin(eq))
            msg = f"values differ in {c!r}"
            if explain:
                msg += f" at canon-row {idx}: spark={av.iloc[idx]!r} duck={bv.iloc[idx]!r}"
            problems.append(msg)
    return problems


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--explain"]
    explain = "--explain" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    spark = get_spark(app_name="oracle-check-strict")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    checked = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        checked += 1
        try:
            sdf_pd = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {exc}")
            failures += 1
            continue
        try:
            ddf_pd = con.execute(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {exc}")
            failures += 1
            continue
        problems = compare(sdf_pd, ddf_pd, explain=explain)
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"ok    {name}: {len(sdf_pd)} rows strict-match")
    print(f"\n{failures} failures / {checked} oracled queries (strict)")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
