"""Adversarial connected-components bench (VERDICT r3 item 7).

connected_components is O(diameter) min-label-propagation rounds with a
reliable checkpoint per round — ideal for SHALLOW dedup graphs (near-dup
clusters have tiny diameters), but an adversary can feed it long chains.
This bench builds the worst realistic shape: many parallel chains (so the
data is large AND the diameter is deep) and measures wall time, rounds,
and per-round cost, validating the labeling exactly.

Graph: ``n_chains`` disjoint path graphs of ``chain_len`` vertices
(vertex ids are contiguous per chain) → ``n_chains*(chain_len-1)`` edges,
diameter ``chain_len-1``, so label propagation needs ``chain_len-1``
rounds. Default 10_000 × 100 ≈ 10⁶ edges, diameter 99.

Prints ONE JSON line; the measured numbers and the practical iteration
bound they imply are recorded in SCALE.md.

Usage: python tools/bench_cc.py [n_chains] [chain_len]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from article_extraction_spark.session import get_spark, host_cpus  # noqa: E402


def main() -> None:
    n_chains = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    chain_len = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    cpus = host_cpus()
    spark = get_spark(app_name="bench-cc", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    from article_extraction_spark.operators.dedup import connected_components

    # chain c occupies ids [c*chain_len, (c+1)*chain_len); edge (i, i+1)
    edges = (
        spark.range(n_chains * chain_len)
        .where((F.col("id") + 1) % chain_len != 0)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        .repartition(cpus)
    )
    n_edges = edges.count()  # materialize input outside the timed span

    t0 = time.perf_counter()
    labels = connected_components(
        edges, max_iterations=chain_len + 10, checkpoint_dir=None
    )
    # exact validation: every vertex labels to its chain's min id
    bad = labels.where(
        F.col("component") != (F.floor(F.col("id") / chain_len) * chain_len)
    ).count()
    n_vertices = labels.count()
    elapsed = time.perf_counter() - t0
    labels.unpersist(blocking=True)

    rounds = chain_len - 1  # diameter of a path graph
    print(
        json.dumps(
            {
                "metric": "cc_adversarial_chain_seconds",
                "value": round(elapsed, 1),
                "unit": "sec",
                "n_edges": n_edges,
                "n_vertices": n_vertices,
                "n_chains": n_chains,
                "diameter": rounds,
                "sec_per_round": round(elapsed / rounds, 2),
                "mislabeled": bad,
                "cpus": cpus,
            }
        )
    )
    if bad:
        raise SystemExit(f"{bad} mislabeled vertices")


if __name__ == "__main__":
    main()
