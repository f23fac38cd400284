"""The deployment contract: the engine runs as a ``--py-files`` zip under
``spark-submit``, whose master and sizing ``get_spark`` must honour.

Uses the ``bin/spark-submit`` bundled with the installed pyspark, with
``SPARK_HOME`` pointed at it, so no PATH or host Spark install is assumed.
The child has no ``PYTHONPATH`` and runs outside the checkout: the driver
and the workers can only import the engine from the zip."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pyspark
import pytest

from article_extraction_spark.fixtures.synth import synth_transcripts, transcripts_df
from article_extraction_spark.pipeline import convert_transcripts
from article_extraction_spark.pipeline.checkpoint import read_turns
from article_extraction_spark.session import make_pyfiles_zip

ROOT = Path(__file__).resolve().parent.parent
PYSPARK_HOME = Path(pyspark.__file__).resolve().parent

PROBE = """
import json

import article_extraction_spark
from article_extraction_spark.session import get_spark

spark = get_spark()
sc = spark.sparkContext
worker_pkg = sc.parallelize([0], 1).map(
    lambda _: __import__("article_extraction_spark").__file__
).first()
print(json.dumps({
    "master": sc.master,
    "time_zone": spark.conf.get("spark.sql.session.timeZone"),
    "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
    "driver_pkg": article_extraction_spark.__file__,
    "worker_pkg": worker_pkg,
    "py_includes": list(sc._python_includes),
}))
spark.stop()
"""


@pytest.fixture(scope="module")
def engine_zip(tmp_path_factory) -> str:
    return make_pyfiles_zip(str(tmp_path_factory.mktemp("dist") / "engine.zip"))


def spark_submit(script: str, *args: str, py_files: str, workdir: Path) -> dict:
    """Run ``script`` under ``spark-submit --master local[2]`` in ``workdir``
    (also its TMPDIR); return the last JSON line it printed."""
    env = {
        **os.environ,
        "SPARK_HOME": str(PYSPARK_HOME),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(workdir),
    }
    env.pop("PYTHONPATH", None)
    cmd = [
        str(PYSPARK_HOME / "bin" / "spark-submit"),
        "--master", "local[2]",
        "--conf", "spark.ui.enabled=false",
        "--py-files", py_files,
        script, *args,
    ]
    out = subprocess.run(cmd, cwd=workdir, env=env, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert lines, out.stderr[-3000:]
    return json.loads(lines[-1])


def test_get_spark_under_spark_submit(engine_zip, tmp_path):
    """spark-submit's master stands, the engine's semantic configs are set,
    and a package that came in with --py-files is not zipped and added
    again (from a zip that would be an empty archive)."""
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    got = spark_submit(str(probe), py_files=engine_zip, workdir=tmp_path)

    assert got["master"] == "local[2]"
    assert (got["time_zone"], got["aqe"]) == ("UTC", "true")
    assert "engine.zip" in got["driver_pkg"] and "engine.zip" in got["worker_pkg"]
    assert got["py_includes"] == ["engine.zip"]
    assert not (tmp_path / "article_extraction_spark.zip").exists()


def test_extract_job_fresh_then_resume(spark, engine_zip, tmp_path):
    """jobs/extract.py under spark-submit: a fresh run converts every
    bucket, a re-run skips them all, and the output equals an in-process
    convert of the same input."""
    rows, _ = synth_transcripts(n_convs=16, turns_per_conv=6, seed=21, mega_conv=False)
    src = str(tmp_path / "transcripts")
    transcripts_df(spark, rows).write.parquet(src)
    dest = str(tmp_path / "dest")
    job = str(ROOT / "jobs" / "extract.py")
    args = ("--input", src, "--output", dest, "--n-buckets", "4")

    fresh = spark_submit(job, *args, py_files=engine_zip, workdir=tmp_path)
    again = spark_submit(job, *args, py_files=engine_zip, workdir=tmp_path)

    assert (fresh["buckets_processed"], fresh["resumed_from"]) == (4, 0)
    assert (again["buckets_processed"], again["resumed_from"]) == (0, 4)

    def keyed(df):
        return {
            (r["conv_id"], r["turn_idx"], r["extracted_text"])
            for r in df.select("conv_id", "turn_idx", "extracted_text").collect()
        }

    expected = keyed(convert_transcripts(spark.read.parquet(src)))
    assert keyed(read_turns(spark, dest)) == expected
    assert len(expected) > 0
