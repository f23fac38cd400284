"""The engine's one SparkSession factory: every entry point gets its session
from ``get_spark``, which alone decides the Spark configuration and how the
package reaches the python workers.

Every session gets ``ENGINE_CONF``: AQE on (runtime skew-join splitting +
partition coalescing), Arrow transport, UTC session time zone
(duckdb-oracle comparability). Under spark-submit, master and sizing are
spark-submit's; otherwise the session is ``local[host_cpus()]`` with a heap
of ``driver_memory()``, no UI, and shuffle partitions sized to the cores
rather than the 200 default.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

from .catalog import write_atomic

PKG_DIR = os.path.dirname(os.path.abspath(__file__))
ZIP_NAME = "article_extraction_spark.zip"

ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # a reused Python worker keeps the package's zipimporter refresh
    # (_zipimport.py), so its later tasks skip re-reading pyspark.zip and
    # the spark-core jar
    "spark.python.worker.reuse": "true",
    # binary/text payloads can be large; raise Arrow batch sanity limit
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
}


def make_pyfiles_zip(dest: str | None = None) -> str:
    """Zip this package for ``spark-submit --py-files`` / ``addPyFile``.

    The north rule's deployment contract: the engine ships itself to every
    python worker; nothing relies on a shared filesystem or driver cwd.

    The zip is built beside ``dest`` and renamed over it
    (``catalog.write_atomic``), so another process reading ``dest`` (a
    second driver sharing ``TMPDIR``) sees the old zip or the new one,
    never a half-written one.
    """
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(), ZIP_NAME)

    def build(fh) -> None:
        with zipfile.ZipFile(fh, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(PKG_DIR):
                for name in files:
                    if not name.endswith(".py"):
                        continue
                    full = os.path.join(root, name)
                    rel = os.path.relpath(full, os.path.dirname(PKG_DIR))
                    zf.write(full, rel)

    write_atomic(dest, build, "wb")
    return dest


def ship_package(sc: SparkContext) -> None:
    """Add this package to the python workers of ``sc``, once per
    SparkContext. A package imported from a zip came in with ``--py-files``
    and is already on every worker's path, so nothing is shipped."""
    if os.path.isdir(PKG_DIR) and ZIP_NAME not in sc._python_includes:
        sc.addPyFile(make_pyfiles_zip())


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


def hadoop_path(spark: SparkSession, path: str):
    """``(FileSystem, Path)`` for ``path`` through the session's Hadoop
    configuration. A plain local path and a ``file://``, ``hdfs://`` or
    ``s3a://`` URI all resolve to their own filesystem, where ``os.path``
    knows only the first."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, on any filesystem scheme (``hadoop_path``).
    Probe before ``spark.read``: a reader given a missing path logs a full
    stack trace before it raises."""
    fs, jpath = hadoop_path(spark, path)
    return fs.exists(jpath)


def get_spark(
    app_name: str = "article_extraction_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's configs, and ship
    the package to its python workers. Under spark-submit only explicit
    arguments are added to ``ENGINE_CONF``."""
    conf = dict(ENGINE_CONF)
    # spark-submit hands the Python driver its running JVM through this
    # variable, so the check starts no JVM of its own
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        cpus = host_cpus()
        if master is None:
            master = f"local[{cpus}]"
        # local[N] → N; local[*] → cpu count
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        conf["spark.sql.shuffle.partitions"] = str(cpus if inner == "*" else int(inner))
        conf["spark.ui.enabled"] = "false"
        conf["spark.driver.memory"] = driver_memory()

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    for k, v in {**conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark.sparkContext)
    return spark
