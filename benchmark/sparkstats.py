"""Read Spark's own status stores from outside the engine.

Two stores, both live with ``spark.ui.enabled=false``:

* the core ``AppStatusStore`` (``sc.statusStore()``): jobs, stages and task
  quantiles. Its list methods return Scala ``Seq``s, indexed with ``apply``.
* the SQL ``SQLAppStatusStore`` (``sharedState().statusStore()``): one entry
  per SQL execution with its physical plan, its plan graph and the values of
  every node metric. Node metric values arrive preformatted, e.g.
  ``"total (min, med, max (stageId: taskId))\\n7.4 s (…)"``, so they are
  parsed back into base units here (seconds, bytes, counts).

Usage: ``mark = reader.mark()``, run one Spark action, then
``reader.since(mark)`` returns a ``Snapshot`` of everything that ran after
the mark.
"""

from __future__ import annotations

import hashlib
import re
import time
from dataclasses import dataclass, field

_UNITS = {
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of a preformatted SQL metric value, in seconds, bytes or count.

    ``"1,000"`` → 1000; ``"15.3 KiB"`` → 15667.2; the multi-line
    ``"total (min, med, max …)\\n2.8 s (209 ms, …)"`` form → 2.8.
    """
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE_RE.match(text)
    if m is None:
        raise ValueError(f"unparseable metric value {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return number
    if unit not in _UNITS:
        raise ValueError(f"unknown metric unit {unit!r} in {text!r}")
    return number * _UNITS[unit]


_PLAN_NOISE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id=?"),
    (re.compile(r"file:[^\s,\]\)]+"), "<path>"),
    (re.compile(r"\d+ paths"), "N paths"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen]"),
]


def plan_fingerprint(plan_text: str) -> str:
    """Hash of a physical plan with expression ids, plan ids and file paths
    removed, so the same plan shape hashes the same across runs."""
    for pat, repl in _PLAN_NOISE:
        plan_text = pat.sub(repl, plan_text)
    return hashlib.sha256(plan_text.encode()).hexdigest()[:12]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _ids(scala_collection) -> list[int]:
    text = scala_collection.mkString(",")
    return sorted(int(x) for x in text.split(",") if x)


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class Snapshot:
    executions: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)

    def nodes(self, name_pred) -> list[dict]:
        return [n for e in self.executions for n in e["nodes"] if name_pred(n["name"])]

    def node_metric(self, name_pred, metric: str) -> float:
        return sum(n["metrics"].get(metric, 0.0) for n in self.nodes(name_pred))

    def completed_stages(self) -> list[dict]:
        return [s for s in self.stages if s["status"] == "COMPLETE"]

    def stage_sum(self, key: str) -> float:
        return sum(s[key] for s in self.completed_stages())

    def spark_intervals(self) -> list[tuple[float, float]]:
        """When completed jobs and stages were running."""
        spans = [(s["start"], s["end"]) for s in self.completed_stages()]
        return spans + [(j["start"], j["end"]) for j in self.jobs if j["end"] is not None]

    def plan_hash(self) -> str:
        """Plan fingerprint of the longest-running execution."""
        return max(self.executions, key=lambda e: e["end"] - e["start"])["plan_hash"]

    def merge(self, other: "Snapshot") -> "Snapshot":
        return Snapshot(
            self.executions + other.executions,
            self.stages + other.stages,
            self.jobs + other.jobs,
        )


@dataclass(frozen=True)
class Mark:
    execution: int
    job: int
    stage: int


class StatusReader:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._core = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = self._sc._jvm
        self._gw = self._sc._gateway

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every pending event, so
        the stores reflect all actions that have returned."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _empty_list(self):
        return self._jvm.java.util.ArrayList()

    def _doubles(self, values: list[float]):
        arr = self._gw.new_array(self._jvm.double, len(values))
        for i, v in enumerate(values):
            arr[i] = v
        return arr

    def _all_executions(self) -> list:
        return _seq(self._sql.executionsList())

    def _all_jobs(self) -> list:
        return _seq(self._core.jobsList(self._empty_list()))

    def _all_stages(self) -> list:
        return _seq(
            self._core.stageList(
                self._empty_list(), False, False, self._doubles([]), self._empty_list()
            )
        )

    def mark(self) -> Mark:
        self._drain()
        return Mark(
            max((e.executionId() for e in self._all_executions()), default=-1),
            max((j.jobId() for j in self._all_jobs()), default=-1),
            max((s.stageId() for s in self._all_stages()), default=-1),
        )

    def since(self, mark: Mark, timeout_s: float = 10.0) -> Snapshot:
        """Everything that ran after ``mark``. An execution's end is recorded
        a little after its action returns, so wait for every one to end."""
        deadline = time.monotonic() + timeout_s
        while True:
            self._drain()
            execs = [e for e in self._all_executions() if e.executionId() > mark.execution]
            if all(e.completionTime().isDefined() for e in execs) or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        snap = Snapshot()
        snap.executions = [self._execution(e) for e in execs]
        for j in self._all_jobs():
            if j.jobId() > mark.job:
                snap.jobs.append(
                    {
                        "id": j.jobId(),
                        "status": j.status().toString(),
                        "start": _opt_time(j.submissionTime()),
                        "end": _opt_time(j.completionTime()),
                    }
                )
        for s in self._all_stages():
            if s.stageId() > mark.stage:
                snap.stages.append(self._stage(s))
        snap.executions.sort(key=lambda e: e["id"])
        snap.stages.sort(key=lambda s: s["id"])
        return snap

    def _execution(self, e) -> dict:
        eid = e.executionId()
        values = self._sql.executionMetrics(eid)
        nodes = []
        for n in _seq(self._sql.planGraph(eid).allNodes()):
            metrics = {}
            for m in _seq(n.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = parse_metric(v.get())
            nodes.append({"name": n.name(), "desc": n.desc(), "metrics": metrics})
        end = e.completionTime()
        plan = e.physicalPlanDescription()
        return {
            "id": eid,
            "start": e.submissionTime() / 1000.0,
            "end": end.get().getTime() / 1000.0 if end.isDefined() else None,
            "plan_hash": plan_fingerprint(plan),
            "plan": plan,
            "jobs": _ids(e.jobs().keySet()),
            "nodes": nodes,
        }

    def _stage(self, s) -> dict:
        return {
            "id": s.stageId(),
            "attempt": s.attemptId(),
            "status": s.status().toString(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "shuffle_write_records": s.shuffleWriteRecords(),
            "shuffle_write_s": s.shuffleWriteTime() / 1e9,
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "start": _opt_time(s.submissionTime()),
            "end": _opt_time(s.completionTime()),
        }

    def task_run_quantiles(self, stage: dict) -> list[float] | None:
        """[min, median, max] task executor run time (ms) of one stage."""
        summary = self._core.taskSummary(
            stage["id"], stage["attempt"], self._doubles([0.0, 0.5, 1.0])
        )
        if not summary.isDefined():
            return None
        q = summary.get().executorRunTime()
        return [q.apply(i) for i in range(q.size())]
