"""Host-derived Spark sizing and process-tree memory sampling.

Everything the benchmark writes lives under ``<checkout>/.bench_out``: the
Spark local dir, the JVM and Python temp dirs, the generated inputs and the
traces. Nothing here needs an environment override or a manual ``mkdir``.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading

GIB = 1024**3


def host_cpus() -> int:
    """CPUs this process may run on (cgroup/affinity aware)."""
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """A sixteenth of physical memory, clamped to [1, 4] GiB: the inputs are
    tens of MB, and the host's memory is shared with other tenants."""
    gib = min(4, max(1, round(mem_total_bytes() / (16 * GIB))))
    return f"{gib}g"


class Workdir:
    """``.bench_out`` under the checkout root, created on demand."""

    def __init__(self, root: str) -> None:
        self.root = os.path.join(root, ".bench_out")
        self.tmp = self.path("tmp")
        self.local = self.path("spark-local")

    def path(self, *parts: str) -> str:
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def confine(self) -> None:
        """Point every temp/scratch location of this process, the JVM it
        launches and the Python workers at the work dir."""
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        import tempfile

        tempfile.tempdir = self.tmp


def _forget_udf_handles() -> None:
    """A PySpark UDF caches its JVM handle on first use, and that handle
    sends accumulator updates to the Python side of the session it was built
    in. After a session restart, drop the handles held by the engine's
    module-level UDFs, so their tasks report to the live session."""
    for name, module in list(sys.modules.items()):
        if name.startswith("article_extraction_spark"):
            for obj in vars(module).values():
                udf = getattr(obj, "_unwrapped", obj)
                if getattr(udf, "_judf_placeholder", None) is not None:
                    udf._judf_placeholder = None


def spark_session(workdir: Workdir, cpus: int):
    """``local[cpus]`` session with a host-derived heap and a local dir the
    benchmark created itself, built through the engine's ``get_spark``."""
    from article_extraction_spark.session import get_spark

    _forget_udf_handles()
    heap = driver_heap()
    spark = get_spark(
        app_name="benchmark",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": heap,
            "spark.local.dir": workdir.local,
            # a fixed, pre-touched heap: without it the JVM's resident size
            # follows heap growth, which varies from run to run. No perf
            # data file: it would go to /tmp whatever java.io.tmpdir says
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={workdir.tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(spark) -> None:
    """Stop the session, then the JVM that PySpark launched, and wait for it
    (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants, from /proc.
    Summed as proportional set sizes, so pages shared between processes
    (forked Python workers, a child the JVM spawns) count once."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the comm field may contain spaces; ppid follows the closing paren
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the peak resident memory of this process tree
    (driver, JVM, Python workers). Use as a context manager."""

    # one sample walks the page tables of the pre-touched heap (~30 ms)
    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
