"""Extraction-pipeline benchmark: seeded workloads, golden-checked.

    python3 benchmark/run.py --workload bulk_html --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Each run builds its inputs from ``--seed``.
With ``--trace 0`` it prints the end-to-end metrics, with ``--trace 1``
the per-layer metrics, and writes spans to ``.bench_out/trace-*.json``.
The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is non-zero when any output
differs from its golden. See NOTES.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
MIN_PASSES = 2
BULK_TURNS = 16_000
MIXED_CONVS = 60  # × 20 turns, plus one 2000-turn mega-conversation
MIXED_BUCKETS = 8
STREAM_FILE_TURNS = 250
STREAM_INTERVAL_S = 0.32
STREAM_TRIGGER = "200 milliseconds"
SCALING_PASSES = 2

END_TO_END = {
    "turns_per_s": "turns/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def tail(values: list[float]) -> tuple[float, str]:
    """Highest percentile with at least ten samples beyond it, and its label.
    Below 21 samples that percentile would not exceed the median, so the
    maximum is reported instead."""
    s, n = sorted(values), len(values)
    if n < 21:
        return s[-1], f"max of n={n}"
    return s[n - 11], f"p{100 * (n - 10) / n:.0f} of n={n}"


def du_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def convert_pass(spark, input_dir: str, cpus: int, tracer) -> None:
    """The BASELINE throughput stage: convert_transcripts into the noop sink."""
    from article_extraction_spark.pipeline import convert_transcripts

    with tracer.span("pipeline.convert.convert_transcripts"):
        df = convert_transcripts(spark.read.parquet(input_dir), num_partitions=2 * cpus)
    with tracer.span("spark.action", action="noop_write"):
        df.write.format("noop").mode("overwrite").save()


class Run:
    """State shared by a workload's phases: seed, host sizing, work dir,
    tracer, and the current Spark session and status reader."""

    def __init__(self, args, cpus: int, workdir, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.cpus = cpus
        self.workdir = workdir
        self.tracer = tracer
        self.spark = None
        self.reader = None
        self.problems: list[str] = []

    def start_session(self) -> None:
        from hostenv import spark_session
        from sparkstats import StatusReader

        self.spark = spark_session(self.workdir, self.cpus)
        self.reader = StatusReader(self.spark)


class ClosedLoop:
    """One client running one pass at a time, back to back."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.input_dir = os.path.join(run.workdir.root, "work", self.name, "input")

    def measure(self) -> dict:
        run, tracer = self.run, self.run.tracer
        walls, traced_walls, layers = [], [], []
        deadline = time.perf_counter() + run.seconds
        k = 0
        while (
            time.perf_counter() < deadline
            or len(walls) < MIN_PASSES
            or (run.traced and len(traced_walls) < MIN_PASSES)
        ):
            k += 1
            # traced runs alternate untraced and traced passes, so the
            # tracing overhead is measured under the same conditions
            traced = run.traced and k % 2 == 0
            if traced:
                with tracer.span("pass", index=k) as span:
                    with tracer.span("trace.mark"):
                        mark = run.reader.mark()
                    result = self.timed_pass(mark)
                traced_walls.append(span["end"] - span["start"])
                layers.append(self.pass_layers(result, span))
            else:
                t0 = time.perf_counter()
                self.timed_pass(None)
                walls.append(time.perf_counter() - t0)
        out = {"walls": walls, "turns": self.n_turns}
        if run.traced:
            out["layers"] = {key: statistics.median(d[key] for d in layers) for key in layers[0]}
            out["layers"]["trace.overhead"] = statistics.median(traced_walls) / statistics.median(walls)
        return out

    def payloads(self) -> list[str]:
        return self.corpus.table.column("text").to_pylist()

    def end_to_end(self, m: dict) -> tuple[dict, str]:
        p50 = statistics.median(m["walls"])
        tail_v, tail_label = tail(m["walls"])
        return {
            "turns_per_s": m["turns"] / p50,
            "latency_p50_s": p50,
            "latency_tail_s": tail_v,
        }, f"{tail_label} passes"


class BulkHtml(ClosedLoop):
    name = "bulk_html"
    verdict = None

    def materialise(self) -> None:
        from workloads import bulk_html, write_parquet

        self.corpus = bulk_html(self.run.seed, BULK_TURNS)
        self.n_turns = self.corpus.table.num_rows
        write_parquet(self.corpus.table, self.input_dir, self.run.cpus)

    def warm(self) -> None:
        """One convert pass whose output is collected and compared. The
        first timed pass runs 0.3-0.6 s slower than the rest after this
        pass and after a noop pass alike, so the check costs no extra pass."""
        from article_extraction_spark.pipeline import convert_transcripts

        from workloads import compare

        run = self.run
        got = convert_transcripts(
            run.spark.read.parquet(self.input_dir), num_partitions=2 * run.cpus
        ).select("conv_id", "turn_idx", "extracted_text").toArrow()
        verdict = compare(self.corpus.golden, self.n_turns, got)
        # keep the worst of the set-ups' checks
        if self.verdict is None or verdict.failed > self.verdict.failed:
            self.verdict = verdict

    def timed_pass(self, mark):
        run = self.run
        convert_pass(run.spark, self.input_dir, run.cpus, run.tracer)
        if mark is not None:
            with run.tracer.span("trace.snapshot"):
                return run.reader.since(mark)
        return None

    def pass_layers(self, snap, span: dict) -> dict:
        from layers import plan_layers
        from tracing import union_seconds

        out = plan_layers(snap, self.run.reader, self.n_turns)
        # driver spans other than the action itself, plus the Spark job and
        # stage intervals, against the pass's wall time
        driver = [
            (s["start"], s["end"]) for s in self.run.tracer.spans
            if s["start"] >= span["start"] and s["end"] <= span["end"]
            and s["name"] not in ("pass", "spark.action")
        ]
        covered = union_seconds(driver + snap.spark_intervals(), span["start"], span["end"])
        out["trace.coverage"] = covered / (span["end"] - span["start"])
        self.plan_hash = snap.plan_hash()
        return out

    def check(self):
        return self.verdict


class MixedResume(ClosedLoop):
    """An interrupted checkpointed run over the first half of the buckets,
    then a full-input resume that must skip exactly those buckets."""

    name = "mixed_resume"

    def materialise(self) -> None:
        from pyspark.sql import functions as F

        from article_extraction_spark.pipeline.partitioning import bucket_col

        from workloads import synth_mix, write_parquet

        run = self.run
        self.corpus = synth_mix(run.seed, MIXED_CONVS, 20, mega_conv=True)
        self.n_turns = self.corpus.table.num_rows
        write_parquet(self.corpus.table, self.input_dir, run.cpus)
        if hasattr(self, "bucket_of"):
            return  # the same seed gives the same conversations and buckets
        convs = sorted(set(self.corpus.table.column("conv_id").to_pylist()))
        bucket_of = {
            r["conv_id"]: r["b"]
            for r in run.spark.createDataFrame([(c,) for c in convs], "conv_id string")
            .select("conv_id", bucket_col(F.col("conv_id"), MIXED_BUCKETS).alias("b"))
            .collect()
        }
        self.bucket_of = bucket_of
        self.first_half = {b for b in bucket_of.values() if b < MIXED_BUCKETS // 2}
        self.second_half = set(bucket_of.values()) - self.first_half
        self.snapshot_id = f"snap-seed{run.seed}"

    def _legs(self, dest: str, mark) -> list:
        from pyspark.sql import functions as F

        from article_extraction_spark.pipeline import run_with_checkpoint
        from article_extraction_spark.pipeline.partitioning import bucket_col

        run = self.run
        shutil.rmtree(dest, ignore_errors=True)
        df = run.spark.read.parquet(self.input_dir)
        legs = []
        for run_id, src in (
            ("interrupted", df.where(bucket_col(F.col("conv_id"), MIXED_BUCKETS) < MIXED_BUCKETS // 2)),
            ("resume", df),
        ):
            with run.tracer.span("pipeline.checkpoint.run_with_checkpoint", leg=run_id):
                stats = run_with_checkpoint(
                    run.spark, src, dest, n_buckets=MIXED_BUCKETS, run_id=run_id,
                    input_snapshot=self.snapshot_id, num_partitions=run.cpus,
                )
            snap = None
            if mark is not None:
                with run.tracer.span("trace.snapshot"):
                    snap = run.reader.since(mark)
                    mark = run.reader.mark()
            legs.append((stats, snap))
        (s1, _), (s2, _) = legs
        expected = (len(self.first_half), len(self.first_half), len(self.second_half))
        got = (s1["buckets_processed"], s2["resumed_from"], s2["buckets_processed"])
        if got != expected:
            run.problems.append(f"resume buckets (interrupted, skipped, resumed) {got} != {expected}")
        return legs

    def _dest(self, k) -> str:
        return os.path.join(self.run.workdir.root, "work", self.name, f"dest-{k}")

    def warm(self) -> None:
        self._legs(self._dest("warm"), None)

    def timed_pass(self, mark):
        # every timed pass reuses (and first clears) one destination
        return self._legs(self._dest("timed"), mark), self._dest("timed")

    def pass_layers(self, result, span: dict) -> dict:
        from layers import execution_seconds, plan_layers

        legs, dest = result
        (_, snap1), (stats2, snap2) = legs
        snap = snap1.merge(snap2)
        out = plan_layers(snap, self.run.reader, self.n_turns)
        out["checkpoint.jobs"] = (len(snap1.jobs) + len(snap2.jobs)) / 2
        out["checkpoint.lineage_s"] = execution_seconds(snap, lambda p: "rows_failed" in p)
        out["checkpoint.sink_s"] = execution_seconds(
            snap, lambda p: "InsertIntoHadoopFsRelationCommand" in p and "rows_failed" not in p
        )
        out["checkpoint.sink_bytes"] = float(du_bytes(os.path.join(dest, "turns")))
        out["checkpoint.skipped_buckets"] = float(stats2["resumed_from"])
        self.plan_hash = snap.plan_hash()
        return out

    def check(self):
        """Goldens and lineage of the last set-up's warm pass."""
        from article_extraction_spark.pipeline.checkpoint import read_lineage, read_turns

        from workloads import compare

        run = self.run
        dest = self._dest("warm")
        got = read_turns(run.spark, dest).select("conv_id", "turn_idx", "extracted_text").toArrow()
        verdict = compare(self.corpus.golden, self.n_turns, got)
        rows_in: dict[int, int] = {}
        rows_out: dict[int, int] = {}
        for c in self.corpus.table.column("conv_id").to_pylist():
            rows_in[self.bucket_of[c]] = rows_in.get(self.bucket_of[c], 0) + 1
        for c, _ in self.corpus.golden:
            rows_out[self.bucket_of[c]] = rows_out.get(self.bucket_of[c], 0) + 1
        lineage = read_lineage(run.spark, dest).collect()
        for r in lineage:
            b = r["partition_id"]
            if r["rows_in"] != r["rows_out"] + r["rows_empty"] + r["rows_failed"]:
                verdict.problems.append(f"bucket {b}: rows_in != out + empty + failed")
            if (r["rows_in"], r["rows_out"]) != (rows_in.get(b), rows_out.get(b, 0)):
                verdict.problems.append(f"bucket {b}: lineage rows disagree with the generator")
        by_run = {
            run_id: {r["partition_id"] for r in lineage if r["run_id"] == run_id}
            for run_id in ("interrupted", "resume")
        }
        if by_run != {"interrupted": self.first_half, "resume": self.second_half}:
            verdict.problems.append("lineage buckets per leg differ from the interrupted/resumed split")
        shutil.rmtree(dest, ignore_errors=True)
        return verdict


class StreamTrickle:
    """Open loop: a generator thread drops parquet files into the watched
    directory, one in every STREAM_INTERVAL_S seconds; a
    streaming_extract query with a processing-time trigger writes to a
    parquet sink."""

    name = "stream_trickle"

    def __init__(self, run: Run) -> None:
        self.run = run
        self.base = os.path.join(run.workdir.root, "work", self.name)
        self.n_files = max(12, math.ceil(run.seconds / STREAM_INTERVAL_S))

    def _stage(self, tag: str, seed: int, n_files: int) -> list:
        from workloads import stream_files, write_parquet

        stage = os.path.join(self.base, tag, "stage")
        shutil.rmtree(os.path.join(self.base, tag), ignore_errors=True)
        files = stream_files(seed, n_files, STREAM_FILE_TURNS)
        for i, corpus in enumerate(files):
            write_parquet(corpus.table, os.path.join(stage, f"f{i:04d}"), 1)
        return files

    def materialise(self) -> None:
        self.files = {"run": self._stage("run", self.run.seed, self.n_files)}
        self._stage("warm", self.run.seed + 7_919, self.run.cpus)

    def warm(self) -> None:
        """One micro-batch of ``cpus`` files, so the session has forked as
        many Python workers as the trickle will use."""
        from article_extraction_spark.streaming.ingest import run_available_now, streaming_extract

        warm = os.path.join(self.base, "warm")
        in_dir = os.path.join(warm, "in")
        os.makedirs(in_dir, exist_ok=True)
        for d in sorted(os.listdir(os.path.join(warm, "stage"))):
            src = os.path.join(warm, "stage", d)
            for f in os.listdir(src):
                os.rename(os.path.join(src, f), os.path.join(in_dir, f"{d}-{f}"))
        run_available_now(
            streaming_extract(self.run.spark, in_dir),
            os.path.join(warm, "out"), os.path.join(warm, "ckpt"), query_name="warm",
        )

    def _phase(self, tag: str, traced: bool) -> dict:
        from article_extraction_spark.streaming.ingest import streaming_extract

        run = self.run
        root = os.path.join(self.base, tag)
        stage, in_dir = os.path.join(root, "stage"), os.path.join(root, "in")
        out_dir, ckpt = os.path.join(root, "out"), os.path.join(root, "ckpt")
        os.makedirs(in_dir, exist_ok=True)
        mark = run.reader.mark() if traced else None
        query = (
            streaming_extract(run.spark, in_dir).writeStream.format("parquet")
            .option("path", out_dir).option("checkpointLocation", ckpt)
            .trigger(processingTime=STREAM_TRIGGER).queryName(f"trickle-{tag}").start()
        )
        drops: list[dict] = []
        names = sorted(os.listdir(stage))
        # file i is due at a seeded random point of the i-th interval. A
        # fixed period locks into phase with the micro-batches, and a run's
        # latency then depends on that phase; Poisson arrivals let the
        # backlog of one burst set a run's median
        rng = random.Random(run.seed)  # the same schedule in both phases
        offsets = [(i + rng.random()) * STREAM_INTERVAL_S for i in range(len(names))]

        def generate() -> None:
            t0 = time.time() + 0.5  # the first file is due once the query runs
            for d, offset in zip(names, offsets):
                due = t0 + offset
                time.sleep(max(0.0, due - time.time()))
                name = f"{d}.parquet"
                src = os.path.join(stage, d)
                os.rename(os.path.join(src, os.listdir(src)[0]), os.path.join(in_dir, name))
                drops.append({"file": name, "due": due, "dropped": time.time()})

        try:
            with run.tracer.span("streaming.ingest.streaming_extract", phase=tag):
                gen = threading.Thread(target=generate, name="trickle-generator")
                gen.start()
                gen.join()
                query.processAllAvailable()
            progress = [json.loads(p.json) if hasattr(p, "json") else p for p in query.recentProgress]
        finally:
            query.stop()
        snap = None
        if traced:
            with run.tracer.span("trace.snapshot"):
                snap = run.reader.since(mark)
        file_batch, commits = self._batches(ckpt)
        latencies = [commits[file_batch[d["file"]]] - d["due"] for d in drops]
        return {"drops": drops, "latencies": latencies, "progress": progress,
                "file_batch": file_batch, "commits": commits, "snap": snap, "out": out_dir}

    @staticmethod
    def _batches(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
        """File → micro-batch from the file source's log, and micro-batch →
        commit time from the mtime of its commit-log entry."""
        src_log = os.path.join(ckpt, "sources", "0")
        file_batch: dict[str, int] = {}
        for name in os.listdir(src_log):
            if name.startswith(".") or name.endswith(".tmp"):
                continue
            with open(os.path.join(src_log, name)) as fh:
                for line in fh:
                    if line.startswith("{"):
                        entry = json.loads(line)
                        base = os.path.basename(entry["path"])
                        file_batch[base] = min(entry["batchId"], file_batch.get(base, entry["batchId"]))
        commit_dir = os.path.join(ckpt, "commits")
        commits = {
            int(n): os.stat(os.path.join(commit_dir, n)).st_mtime
            for n in os.listdir(commit_dir) if n.isdigit()
        }
        return file_batch, commits

    def measure(self) -> dict:
        from layers import plan_layers, stream_layers

        run = self.run
        untraced = self._phase("run", False)
        self.last = untraced
        out = {"latencies": untraced["latencies"], "progress": untraced["progress"],
               "turns": sum(c.table.num_rows for c in self.files["run"])}
        if run.traced:
            self.files["traced"] = self._stage("traced", run.seed + 104_729, self.n_files)
            traced = self._phase("traced", True)
            data = [p for p in traced["progress"] if p.get("numInputRows", 0) > 0]
            n_turns = sum(c.table.num_rows for c in self.files["traced"])
            layers = plan_layers(traced["snap"], run.reader, n_turns)
            for key in ("convert.scan_s", "convert.map_stage_s", "exchange.bytes", "exchange.records",
                        "exchange.write_s", "exchange.partitions", "boundary.bytes_sent",
                        "boundary.bytes_returned", "boundary.run_s", "boundary.boot_s",
                        "boundary.init_s", "boundary.rows", "spark.jobs", "spark.spill_bytes"):
                layers[key] /= len(data)  # per micro-batch
            layers.update(stream_layers(traced["progress"], traced["drops"], traced["commits"],
                                        traced["file_batch"]))
            layers["trace.overhead"] = statistics.median(traced["latencies"]) / statistics.median(
                untraced["latencies"])
            self.plan_hash = traced["snap"].plan_hash()
            out["layers"] = layers
        return out

    def payloads(self) -> list[str]:
        return [t for c in self.files["run"] for t in c.table.column("text").to_pylist()]

    def end_to_end(self, m: dict) -> tuple[dict, str]:
        data = [p for p in m["progress"] if p.get("numInputRows", 0) > 0]
        busy = sum(p["durationMs"]["triggerExecution"] for p in data) / 1e3
        tail_v, tail_label = tail(m["latencies"])
        return {
            "turns_per_s": m["turns"] / busy,
            "latency_p50_s": statistics.median(m["latencies"]),
            "latency_tail_s": tail_v,
        }, f"{tail_label} files"

    def check(self):
        from workloads import compare

        golden = {k: v for c in self.files["run"] for k, v in c.golden.items()}
        got = self.run.spark.read.parquet(self.last["out"]).select(
            "conv_id", "turn_idx", "extracted_text").toArrow()
        return compare(golden, sum(c.table.num_rows for c in self.files["run"]), got)


WORKLOADS = {w.name: w for w in (BulkHtml, MixedResume, StreamTrickle)}


def convert_rate(spark, input_dir: str, cpus: int, tracer) -> float:
    """Turns/s of the convert stage: one warm pass, then the median of
    SCALING_PASSES timed ones."""
    n = spark.read.parquet(input_dir).count()
    convert_pass(spark, input_dir, cpus, tracer)
    walls = []
    for _ in range(SCALING_PASSES):
        t0 = time.perf_counter()
        convert_pass(spark, input_dir, cpus, tracer)
        walls.append(time.perf_counter() - t0)
    return n / statistics.median(walls)


def scaling_child(input_dir: str) -> int:
    """``local[1]`` convert passes in a session process of their own."""
    from hostenv import Workdir, shutdown_jvm, spark_session
    from tracing import Tracer

    workdir = Workdir(ROOT)
    workdir.confine()
    spark = spark_session(workdir, 1)
    try:
        rate = convert_rate(spark, input_dir, 1, Tracer("", False))
    finally:
        shutdown_jvm(spark)
    print(json.dumps({"turns_per_s": rate}))
    return 0


def scaling_eff(run: Run, input_dir: str) -> float:
    """Convert-stage turns/s at local[cpus] ÷ (cpus × turns/s at local[1])."""
    rate = convert_rate(run.spark, input_dir, run.cpus, run.tracer)
    with run.tracer.span("scaling.local1"):
        child = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--scaling-child", input_dir],
            capture_output=True, text=True, timeout=150, check=True,
        )
    one = json.loads(child.stdout.strip().splitlines()[-1])["turns_per_s"]
    return rate / (run.cpus * one)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scaling-child", metavar="INPUT_DIR")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "article_extraction_spark")):
        print(f"benchmark: no article_extraction_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.scaling_child:
        return scaling_child(args.scaling_child)
    if args.workload is None:
        ap.error("--workload is required")

    from hostenv import RssSampler, Workdir, driver_heap, host_cpus, shutdown_jvm
    from layers import PER_LAYER, kernel_layers
    from tracing import Tracer

    workdir = Workdir(ROOT)
    workdir.confine()
    cpus = host_cpus()
    tracer = Tracer(f"{args.workload}-seed{args.seed}-pid{os.getpid()}", bool(args.trace))
    run = Run(args, cpus, workdir, tracer)
    workload = WORKLOADS[args.workload](run)

    setups, starts, warms = [], [], []
    try:
        for rep in range(SETUP_REPS):
            if run.spark is not None:
                run.spark.stop()
            t0 = time.perf_counter()
            with tracer.span("session.start", rep=rep):
                run.start_session()
            t1 = time.perf_counter()
            with tracer.span("input.generate", rep=rep):
                workload.materialise()
            t2 = time.perf_counter()
            with tracer.span("session.warm", rep=rep):
                workload.warm()
            t3 = time.perf_counter()
            setups.append(t3 - t0)
            starts.append(t1 - t0)
            warms.append(t3 - t2)
        with RssSampler() as rss:
            m = workload.measure()
        verdict = workload.check()
        e2e, tail_label = workload.end_to_end(m)
        # per-layer metrics a workload does not exercise read 0
        layers = {name: 0.0 for name in PER_LAYER} | m.get("layers", {})
        if run.traced:
            layers.update(kernel_layers(workload.payloads(), args.seed))
            if isinstance(workload, BulkHtml):
                layers["scaling_eff"] = scaling_eff(run, workload.input_dir)
    finally:
        if run.spark is not None:
            shutdown_jvm(run.spark)

    verdict.problems.extend(run.problems)
    correct = verdict.failed == 0 and not verdict.problems
    e2e["setup_s"] = statistics.median(setups)
    e2e["peak_rss_mb"] = rss.peak_mb
    layers["session.start_s"] = statistics.median(starts)
    layers["session.warm_s"] = statistics.median(warms)

    print(f"workload {args.workload} seed {args.seed} cpus {cpus} heap {driver_heap()} "
          f"turns {m['turns']} trace {args.trace}")
    for name, unit in END_TO_END.items():
        note = f"  ({tail_label})" if name == "latency_tail_s" else ""
        print(f"  {name:<16} {e2e[name]:>14.4f} {unit}{note}")
    print(f"  {'failed_share':<16} {verdict.failed / verdict.attempted:>14.4f} ratio "
          f"({verdict.failed}/{verdict.attempted})")
    samples = m.get("walls") or m.get("latencies")
    print("  samples " + " ".join(f"{v:.3f}" for v in samples))
    for p in verdict.problems:
        print(f"  PROBLEM {p}")
    if run.traced:
        plan_hash = workload.plan_hash
        for name, (unit, _) in PER_LAYER.items():
            print(f"  {name:<26} {layers[name]:>14.4f} {unit}")
        print(f"  plan_hash {plan_hash}")
        trace_path = os.path.join(workdir.root, f"trace-{args.workload}-seed{args.seed}.json")
        tracer.dump(trace_path, {"layers": layers, "end_to_end": e2e, "plan_hash": plan_hash,
                                 "cpus": cpus, "heap": driver_heap()})
        print(f"  spans -> {trace_path}")
        metrics = {k: {"value": layers[k], "unit": u} for k, (u, _) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": verdict.attempted,
                      "failed": verdict.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
