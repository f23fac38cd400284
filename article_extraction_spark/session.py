"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[N]`` (single JVM); the same configs are the
right defaults on a real cluster: AQE on (runtime skew-join splitting +
partition coalescing), Arrow transport for every pandas UDF, UTC session time
zone (duckdb-oracle comparability), shuffle partitions sized to parallelism
rather than the 200 default.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def make_pyfiles_zip(dest: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``.

    The north rule's deployment contract: the engine ships itself to every
    python worker; nothing relies on a shared filesystem or driver cwd.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(), "article_extraction_spark.zip")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for name in files:
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    return dest


def host_cpus() -> int:
    """Cores this process may use; ``SPARK_GRAFT_CPUS`` overrides."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


MEMINFO = "/proc/meminfo"


def driver_memory() -> str:
    """Half of physical memory; ``SPARK_DRIVER_MEMORY`` overrides."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return os.environ["SPARK_DRIVER_MEMORY"]
    with open(MEMINFO) as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{kib // 2048}m"


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh temp directory under the session's local scratch space.

    ``SPARK_LOCAL_DIRS`` overrides ``spark.local.dir`` inside Spark, and
    Spark creates only the directory it actually uses, so resolve in the
    same order and create the base if it is missing."""
    base = (
        os.environ.get("SPARK_LOCAL_DIRS")
        or spark.sparkContext.getConf().get("spark.local.dir", None)
        or tempfile.gettempdir()
    ).split(",")[0]
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=base)


def get_spark(
    app_name: str = "article_extraction_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard configs.

    ``master`` defaults to ``local[host_cpus()]`` and the driver heap to
    ``driver_memory()``. ``shuffle_partitions`` defaults to the local core
    count — on a real cluster you would size this to ~2-3x total executor
    cores instead.
    """
    cpus = host_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpu count
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = cpus if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep python workers warm so per-worker module caches (extractors,
        # tokenizers) amortize — the Spark analog of the reference's lru_cache
        # model caching (reference models/llm.py:43-44)
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # binary/text payloads can be large; raise Arrow batch sanity limit
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # ship the engine to python workers (programmatic --py-files); idempotent
    spark.sparkContext.addPyFile(make_pyfiles_zip())
    return spark
