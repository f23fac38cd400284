"""Meta-tests guarding the driver contract (__spark_entry__.py): key
consistency between queries() and oracle_sql(), callable shapes, and the
entry() flagship. Cheap structural checks that catch contract drift before
the driver's scoring does."""

from __future__ import annotations

import inspect

import __spark_entry__ as E


def test_every_oracle_has_a_query():
    qs, osql = E.queries(), E.oracle_sql()
    missing = set(osql) - set(qs)
    assert not missing, f"oracle_sql keys without queries(): {missing}"


def test_query_callables_take_spark_and_sf_dir():
    for name, fn in E.queries().items():
        params = list(inspect.signature(fn).parameters)
        assert len(params) == 2, f"{name} must take (spark, sf_dir), got {params}"


def test_oracle_sql_strings_are_nonempty_and_reference_known_tables():
    tables = {"region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings",
              "generate_series"}
    for name, sql in E.oracle_sql().items():
        assert isinstance(sql, str) and sql.strip(), name
        low = sql.lower()
        assert any(t in low for t in tables) or "select" in low, name


def test_rows_only_queries_are_the_documented_set():
    """Queries WITHOUT a value oracle get only the driver's weaker
    rows-only check — keep that set empty (or consciously grown)."""
    qs, osql = E.queries(), E.oracle_sql()
    rows_only = set(qs) - set(osql)
    assert rows_only == set(), (
        f"queries with no value oracle (driver downgrades them): {rows_only}"
    )


def test_entry_runs_and_returns_rows(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert {"conv_id", "turn_idx", "extracted_text"} <= set(df.columns)


def test_queries_use_one_fixed_scratch_root():
    """Every scratch table goes through ``_scratch_root``: a fixed name
    under the system temp dir, emptied first. A hard-coded ``/tmp/`` or a
    per-process (``getpid``) name leaves a directory behind on every run."""
    src = inspect.getsource(E).splitlines()
    bad = [
        f"{i}: {line.strip()}"
        for i, line in enumerate(src, 1)
        if "/tmp/" in line or "getpid" in line
    ]
    assert not bad, bad
