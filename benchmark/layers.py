"""Per-layer metrics: derived from status-store snapshots, from the engine's
public kernels timed in-process, and from streaming progress reports.

Layer names follow the engine's modules: ``pipeline.convert`` (scan and
classify), ``pipeline.partitioning`` (exchange), ``extract.udfs`` (Python
boundary), ``extract.core`` (kernels), ``pipeline.checkpoint`` and
``streaming.ingest``.
"""

from __future__ import annotations

import math
import random
import statistics
import time

from sparkstats import Snapshot, StatusReader

# a plan node evaluates classify_payload_col iff its description carries
# the base64-PDF sniff literal
CLASSIFY_MARKER = "JVBERi0"
PYTHON_NODES = ("MapInArrow", "ArrowEvalPython", "MapInPandas", "BatchEvalPython")

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "session.warm_s": ("s", "lower"),
    "convert.scan_rows_ratio": ("ratio", "lower"),
    "convert.classify_evals": ("count", "lower"),
    "convert.scan_s": ("s", "lower"),
    "convert.map_stage_s": ("s", "lower"),
    "exchange.bytes": ("bytes", "lower"),
    "exchange.records": ("count", "lower"),
    "exchange.write_s": ("s", "lower"),
    "exchange.partitions": ("count", "lower"),
    "exchange.task_skew": ("ratio", "lower"),
    "boundary.bytes_sent": ("bytes", "lower"),
    "boundary.bytes_returned": ("bytes", "lower"),
    "boundary.run_s": ("s", "lower"),
    "boundary.boot_s": ("s", "lower"),
    "boundary.init_s": ("s", "lower"),
    "boundary.rows": ("count", "lower"),
    "boundary.assemble_us": ("us", "lower"),
    "kernel.html_us": ("us", "lower"),
    "kernel.html_fast_share": ("ratio", "higher"),
    "kernel.pdf_us": ("us", "lower"),
    "kernel.text_us": ("us", "lower"),
    "checkpoint.jobs": ("count", "lower"),
    "checkpoint.lineage_s": ("s", "lower"),
    "checkpoint.sink_s": ("s", "lower"),
    "checkpoint.sink_bytes": ("bytes", "lower"),
    "checkpoint.skipped_buckets": ("count", "higher"),
    "stream.batches": ("count", "higher"),
    "stream.batch_s": ("s", "lower"),
    "stream.overhead_s": ("s", "lower"),
    "stream.backlog_files": ("count", "lower"),
    "gen.late_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.task_cpu_share": ("ratio", "higher"),
    "spark.spill_bytes": ("bytes", "lower"),
    "trace.overhead": ("ratio", "lower"),
    "trace.coverage": ("ratio", "higher"),
    "scaling_eff": ("ratio", "higher"),
}


def _is_scan(name: str) -> bool:
    return name.startswith("Scan ")


def _is_python(name: str) -> bool:
    return name in PYTHON_NODES


def plan_layers(snap: Snapshot, reader: StatusReader, n_turns: int) -> dict[str, float]:
    """Scan/classify, exchange, Python boundary and whole-run counters of
    one unit of work (a pass, a checkpoint leg, a window of micro-batches)."""
    done = snap.completed_stages()
    map_stages = [s for s in done if s["shuffle_write_bytes"] > 0]
    reduce_stages = [s for s in done if s["shuffle_read_bytes"] > 0]
    skew = 0.0
    if reduce_stages:
        q = reader.task_run_quantiles(max(reduce_stages, key=lambda s: s["run_s"]))
        if q and q[1] > 0:
            skew = q[2] / q[1]
    run_s = snap.stage_sum("run_s")
    return {
        "convert.scan_rows_ratio": snap.node_metric(_is_scan, "number of output rows") / n_turns,
        "convert.classify_evals": max(
            (sum(CLASSIFY_MARKER in n["desc"] for n in e["nodes"]) for e in snap.executions),
            default=0,
        ),
        "convert.scan_s": snap.node_metric(_is_scan, "scan time"),
        "convert.map_stage_s": sum(s["run_s"] for s in map_stages),
        "exchange.bytes": snap.stage_sum("shuffle_write_bytes"),
        "exchange.records": snap.stage_sum("shuffle_write_records"),
        "exchange.write_s": snap.stage_sum("shuffle_write_s"),
        "exchange.partitions": snap.node_metric(lambda n: n == "Exchange", "number of partitions"),
        "exchange.task_skew": skew,
        "boundary.bytes_sent": snap.node_metric(_is_python, "data sent to Python workers"),
        "boundary.bytes_returned": snap.node_metric(_is_python, "data returned from Python workers"),
        "boundary.run_s": snap.node_metric(_is_python, "time to run Python workers"),
        "boundary.boot_s": snap.node_metric(_is_python, "time to start Python workers"),
        "boundary.init_s": snap.node_metric(_is_python, "time to initialize Python workers"),
        "boundary.rows": snap.node_metric(_is_python, "number of output rows"),
        "spark.jobs": float(len(snap.jobs)),
        "spark.task_cpu_share": snap.stage_sum("cpu_s") / run_s if run_s else 0.0,
        "spark.spill_bytes": snap.stage_sum("spill_bytes"),
    }


def execution_seconds(snap: Snapshot, pred) -> float:
    return sum(e["end"] - e["start"] for e in snap.executions if e["end"] and pred(e["plan"]))


def _best_us(fn, items: list, reps: int = 7) -> float:
    """Microseconds per item of the fastest of ``reps`` loops: the fastest
    loop is the one least disturbed by other work on the host, and the
    assembly cost is a small difference of two such times."""
    best = math.inf
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(items)
        best = min(best, time.perf_counter() - t0)
    return best / len(items) * 1e6


def kernel_layers(texts: list[str], seed: int, per_kind: int = 400) -> dict[str, float]:
    """Time ``extract.core.to_text`` per doc kind and the mapInArrow stage
    function ``extract.udfs.extract_map_in_arrow`` in-process, on a fixed
    sample of the workload's payloads. The boundary's assembly cost is the
    stage function's time per turn with the kernel's results looked up
    instead of computed: timing the two apart and subtracting left a
    difference smaller than the host's noise, often below zero."""
    import pyarrow as pa

    from article_extraction_spark.extract.core import _fast_html_extract, classify_payload, to_text
    from article_extraction_spark.extract import udfs

    rng = random.Random(seed)
    by_kind: dict[str, list[str]] = {}
    for t in texts:
        by_kind.setdefault(classify_payload(t), []).append(t)
    sample = {k: rng.sample(v, min(per_kind, len(v))) for k, v in sorted(by_kind.items())}

    def kernel(kind: str):
        return lambda items: [to_text(kind, t) for t in items]

    out = {"kernel.html_us": 0.0, "kernel.pdf_us": 0.0, "kernel.text_us": 0.0, "kernel.html_fast_share": 0.0}
    html, pdf = sample.get("html", []), sample.get("pdf", [])
    if html:
        out["kernel.html_us"] = _best_us(kernel("html"), html)
        out["kernel.html_fast_share"] = sum(_fast_html_extract(t) is not None for t in html) / len(html)
    if pdf:
        out["kernel.pdf_us"] = _best_us(kernel("pdf"), pdf)
    text = sample.get("txt", []) + sample.get("json", [])
    if text:
        out["kernel.text_us"] = _best_us(lambda items: [to_text("txt", t) for t in items], text)

    py_rows = [("html", t) for t in html] + [("pdf", t) for t in pdf]
    if not py_rows:
        out["boundary.assemble_us"] = 0.0
        return out
    kinds = [k for k, _ in py_rows]
    payloads = [t for _, t in py_rows]
    batch = pa.record_batch(
        {
            "conv_id": pa.array([f"c{i}" for i in range(len(py_rows))]),
            "turn_idx": pa.array(range(len(py_rows)), pa.int32()),
            "doc_kind": pa.array(kinds),
            "n_source_bytes": pa.array([len(t.encode()) for t in payloads], pa.int64()),
            "text": pa.array(payloads),
        }
    )
    results = {row: to_text(*row) for row in py_rows}
    udfs.to_text = lambda kind, data: results[(kind, data)]
    try:
        out["boundary.assemble_us"] = _best_us(
            lambda _: sum(b.num_rows for b in udfs.extract_map_in_arrow(iter([batch]))), py_rows
        )
    finally:
        udfs.to_text = to_text
    return out


def stream_layers(progress: list[dict], drops: list[dict], commits: dict[int, float], file_batch: dict[str, int]) -> dict[str, float]:
    """Micro-batch timing from the query's progress reports; backlog and
    generator lateness from the drop log and the checkpoint's commits."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in data]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in data]
    committed_at = sorted(commits[file_batch[d["file"]]] for d in drops)
    backlog = 0
    for i, d in enumerate(drops):
        done = sum(1 for c in committed_at if c <= d["dropped"])
        backlog = max(backlog, i + 1 - done)
    return {
        "stream.batches": float(len(data)),
        "stream.batch_s": statistics.median(add) if add else 0.0,
        "stream.overhead_s": statistics.median(t - a for t, a in zip(trig, add)) if data else 0.0,
        "stream.backlog_files": float(backlog),
        "gen.late_s": max(d["dropped"] - d["due"] for d in drops),
    }
