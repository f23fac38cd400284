"""Measure BPE training's driver-round cost and the batched-merge payoff
(VERDICT r5 #2): trains the same merge budget at batch_merges=1 and =M on
the same synthetic corpus and prints per-merge wall time + round counts.

The loop is round-count-bound, not data-bound (each round = one pair-count
job over the distinct-pretoken table + one collect of <= 4*M rows), so
merges/round is the scale lever: a 50k-merge production vocab at M=1 is
50k Spark jobs; at M=16 it is ~3.2k.

Usage: python tools/bench_bpe.py [n_merges] [M]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from article_extraction_spark.extraction.bpe import bpe_train
from article_extraction_spark.session import get_spark


def main() -> None:
    n_merges = int(sys.argv[1]) if len(sys.argv) > 1 else 128
    big_m = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = get_spark()
    rng = np.random.default_rng(7)
    alpha = list("abcdefghijklmnopqrstuvwxyz")
    words = ["".join(rng.choice(alpha, size=8)) for _ in range(400)]
    texts = [" ".join(rng.choice(words, size=60)) for _ in range(200)]
    df = spark.createDataFrame([(t,) for t in texts], "text string").persist()
    df.count()

    out = {}
    for m in (1, big_m):
        stats: dict = {}
        t0 = time.time()
        merges = bpe_train(
            df, "text", n_merges=n_merges, batch_merges=m,
            checkpoint_every=max(10, 2 * m), round_stats=stats,
        )
        dt = time.time() - t0
        out[m] = (dt, stats["rounds"], len(merges))
        print(
            f"M={m}: {len(merges)} merges in {stats['rounds']} rounds, "
            f"{dt:.1f}s total, {dt / max(1, len(merges)) * 1000:.0f} ms/merge, "
            f"{dt / stats['rounds']:.2f} s/round"
        )
    if big_m in out and 1 in out:
        print(f"speedup at M={big_m}: {out[1][0] / out[big_m][0]:.2f}x")


if __name__ == "__main__":
    main()
