"""The package's stat-checked ``zipimporter.invalidate_caches``: an
unchanged archive is read once, not once per importer per call, while a
rewritten archive is still re-read and a missing one still does not raise.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import article_extraction_spark  # noqa: F401  (installs the refresh)

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13's invalidate_caches is lazy; nothing is patched"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def reads(monkeypatch):
    """Count ``zipimport._read_directory`` calls (what a stdlib
    ``invalidate_caches`` runs once per importer per call)."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


@pytest.fixture
def forget(monkeypatch):
    """Drop the import state a test's archive leaves behind."""
    paths = []
    yield paths
    for path in paths:
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)


@needs_patch
def test_unchanged_archive_is_read_once(tmp_path, reads, forget):
    archive = str(tmp_path / "a.zip")
    forget.append(archive)
    _write_zip(archive, {"zipimport_probe_a": "X = 1\n"})
    importers = [zipimport.zipimporter(archive) for _ in range(3)]
    reads.clear()
    for _ in range(2):
        for imp in importers:
            imp.invalidate_caches()
    assert len(reads) <= 1
    assert all("zipimport_probe_a.py" in imp._files for imp in importers)


def test_rewritten_archive_exposes_its_new_module(tmp_path, monkeypatch, forget):
    archive = str(tmp_path / "b.zip")
    forget.append(archive)
    _write_zip(archive, {"zipimport_probe_b1": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zipimport_probe_b1", "zipimport_probe_b2"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zipimport_probe_b1").X == 1
    importlib.invalidate_caches()

    _write_zip(archive, {"zipimport_probe_b1": "X = 1\n", "zipimport_probe_b2": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zipimport_probe_b2").Y == 2


def test_deleted_archive_does_not_raise(tmp_path, forget):
    archive = tmp_path / "c.zip"
    forget.append(str(archive))
    _write_zip(archive, {"zipimport_probe_c": "X = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    imp.invalidate_caches()
    archive.unlink()
    imp.invalidate_caches()
    assert imp._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


@needs_patch
def test_warm_worker_task_reads_no_zip_directory(spark):
    """In Spark's Python workers, once a task has imported the engine and
    refreshed its importers, a later ``invalidate_caches`` (the one every
    task starts with) reads no archive: not pyspark.zip, the spark-core jar,
    py4j or the engine's own zip."""
    import pyarrow as pa

    def count_reads(batches):
        import importlib
        import sys
        import zipimport

        import article_extraction_spark  # noqa: F401

        importlib.invalidate_caches()
        real, calls = zipimport._read_directory, []

        def counting(archive):
            calls.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"reads": [len(calls)], "importers": [importers]})

    n = 2 * spark.sparkContext.defaultParallelism
    rows = (
        spark.range(0, n, 1, n)
        .mapInArrow(count_reads, "reads long, importers long")
        .collect()
    )
    assert len(rows) == n
    assert all(r["importers"] >= 1 for r in rows)
    assert [r["reads"] for r in rows] == [0] * n
