"""Two-cluster-size scaling evidence (north rule, sandbox proxy):

Runs jobs/extract_bench.py via spark-submit --py-files at local[N/4] and
local[N] (N = host_cpus()) on the same input, reports throughput at both and
efficiency = (throughput@N / throughput@N/4) / 4. Writes BENCH_scaling.json
at the checkout root.

Usage: python tools/bench_scaling.py [--reps 40] [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import shutil
import subprocess
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from article_extraction_spark.session import host_cpus, make_pyfiles_zip  # noqa: E402


def run_once(cores: int, sf_dir: str, reps: int, zip_path: str, iterations: int) -> dict:
    """One spark-submit run pinned to exactly ``cores`` CPUs.

    taskset is load-bearing for honesty: an unpinned local[4] JVM still uses
    all machine CPUs for GC/shuffle/python workers, inflating the small-
    cluster baseline. A real N-core executor has N cores for everything.
    """
    spark_submit = shutil.which("spark-submit")
    cmd = [
        "taskset", "-c", f"0-{cores - 1}",
        spark_submit,
        "--master", f"local[{cores}]",
        "--py-files", zip_path,
        os.path.join(ROOT, "jobs", "extract_bench.py"),
        "--sf-dir", sf_dir,
        "--reps", str(reps),
        "--iterations", str(iterations),
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith("{") and "turns_per_sec" in line:
            return json.loads(line)
    raise RuntimeError(f"no result line; stderr tail:\n{out.stderr[-2000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=40)
    ap.add_argument("--small", type=int, default=max(1, host_cpus() // 4))
    ap.add_argument("--large", type=int, default=host_cpus())
    ap.add_argument("--iterations", type=int, default=7,
                    help="timed iterations per size; min-of-K (ADVICE r2: "
                         "3 samples under +-20%% host noise cannot support "
                         "a point estimate)")
    args = ap.parse_args()

    zip_path = make_pyfiles_zip()
    r_small = run_once(args.small, args.sf_dir, args.reps, zip_path, args.iterations)
    print(f"local[{args.small}]: {r_small}")
    r_large = run_once(args.large, args.sf_dir, args.reps, zip_path, args.iterations)
    print(f"local[{args.large}]: {r_large}")

    factor = args.large / args.small
    eff = (r_large["turns_per_sec"] / r_small["turns_per_sec"]) / factor

    def spread(r):
        xs = sorted(r["all_seconds"])
        return round(xs[-1] / xs[0], 2) if xs and xs[0] > 0 else None

    # ADVICE r2: a shared host with multi-x run-to-run spread cannot support
    # a three-digit efficiency claim; report the binary target verdict with
    # the evidence (min-of-K samples + spread) and keep the point estimate
    # clearly labeled as such.
    result = {
        "sf_dir": args.sf_dir,
        "reps": args.reps,
        "iterations": args.iterations,
        "small": r_small,
        "large": r_large,
        "scale_factor": factor,
        "scaling_efficiency_point_estimate": round(eff, 3),
        "sample_spread_max_over_min": {"small": spread(r_small), "large": spread(r_large)},
        "target": 0.8,
        "pass": eff >= 0.8,
        "claim": (
            f">=0.8 target {'met' if eff >= 0.8 else 'NOT met'} "
            f"(min-of-{args.iterations} per size; point estimate {eff:.2f} "
            f"is NOT a stable three-digit figure under this host's "
            f"run-to-run spread)"
        ),
    }
    print(json.dumps(result))
    with open(os.path.join(ROOT, "BENCH_scaling.json"), "w") as f:
        json.dump(result, f, indent=2)


if __name__ == "__main__":
    main()
