"""Session defaults derive from the host, with env overrides."""

from __future__ import annotations

import zipfile
from pathlib import Path

from article_extraction_spark import session


def test_host_cpus_from_affinity_with_env_override(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session.host_cpus() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert session.host_cpus() == 7


def test_driver_memory_is_half_of_memtotal_with_env_override(monkeypatch, tmp_path):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16479424 kB\nMemFree:         2048000 kB\n")
    monkeypatch.setattr(session, "MEMINFO", str(meminfo))
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert session.driver_memory() == "8046m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    assert session.driver_memory() == "6g"


def test_pyfiles_zip_is_never_half_written(monkeypatch, tmp_path):
    """While a second build runs, the destination stays the first build's
    complete zip: a driver that ships it meanwhile never reads a truncated
    archive. The build leaves no temp file behind."""
    dest = str(tmp_path / session.ZIP_NAME)
    session.make_pyfiles_zip(dest)
    names = zipfile.ZipFile(dest).namelist()
    real_write, writes = zipfile.ZipFile.write, []

    def checked_write(self, *args, **kwargs):
        assert zipfile.is_zipfile(dest)
        assert zipfile.ZipFile(dest).namelist() == names
        writes.append(args[0])
        return real_write(self, *args, **kwargs)

    monkeypatch.setattr(zipfile.ZipFile, "write", checked_write)
    assert session.make_pyfiles_zip(dest) == dest
    monkeypatch.undo()
    assert len(writes) == len(names)
    assert zipfile.ZipFile(dest).namelist() == names
    assert "article_extraction_spark/_zipimport.py" in names
    assert sorted(p.name for p in tmp_path.iterdir()) == [session.ZIP_NAME]


def test_sessions_built_in_one_module():
    """Every entry point gets its session from ``session.get_spark``: no
    engine module, job, tool, bench or driver file builds its own."""
    root = Path(__file__).resolve().parent.parent
    sources = [
        *(root / "article_extraction_spark").rglob("*.py"),
        *(root / "jobs").rglob("*.py"),
        *(root / "tools").rglob("*.py"),
        root / "bench.py",
        root / "__spark_entry__.py",
    ]
    factory = root / "article_extraction_spark" / "session.py"
    offenders = [
        str(p.relative_to(root))
        for p in sources
        if p != factory and "SparkSession.builder" in p.read_text()
    ]
    assert offenders == []
