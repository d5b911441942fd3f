#!/usr/bin/env python
"""Single-task-vs-distributed crossover study for the iterative
operators that gained task-envelope routing in round 10
(graph.pagerank, similarity.kmeans_train) — the measured companion to
scripts/dedup_crossover.py, so the routing thresholds are numbers,
not vibes.

For synthetic graphs/pools of increasing size, run BOTH routes (forced
through ``operators.route.CAPS``) and record wall-clock.  Each route
runs once untimed first, so no row pays the Python worker start or
other first-call costs.  Expected
shape: the single-task numpy kernel wins by an order of magnitude
while the data fits one task, and the distributed dataflow takes over
once it does not (on a 32-thread single host the crossover is where
numpy's single core loses to 32 parallel tasks — on a real cluster it
moves further out only if the graph outgrows a task's memory).

Usage: python scripts/route_crossover.py [out_md]
Prints a markdown table; appends it to ``out_md`` when given.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pyspark.sql import functions as F

    from datastore_mapper_spark.operators import route
    from datastore_mapper_spark.operators import similarity as S
    from datastore_mapper_spark.operators.graph import pagerank
    from datastore_mapper_spark.session import get_session

    def timed(cap: str, run) -> dict[str, float]:
        """Wall-clock of ``run()`` with cap ``cap`` forced each way,
        after one untimed warm-up run of that route."""
        saved, times = route.CAPS[cap], {}
        try:
            for name, value in [("single", 10**18), ("dist", -1)]:
                route.CAPS[cap] = value
                run()
                t0 = time.time()
                run()
                times[name] = time.time() - t0
        finally:
            route.CAPS[cap] = saved
        return times

    spark = get_session("route-crossover")
    spark.sparkContext.setLogLevel("ERROR")

    lines = ["", "### Measured single-task vs distributed crossover "
             f"({spark.sparkContext.master}, {os.cpu_count()} cpus)", "",
             "| operator | size | single-task (s) | distributed (s) |",
             "| --- | --- | --- | --- |"]

    for n_nodes, deg in [(2_000, 8), (20_000, 8), (100_000, 8)]:
        # deterministic pseudo-random graph: node i -> (i*k+j) % n
        edges = spark.range(n_nodes).selectExpr(
            "id AS src",
            f"explode(transform(sequence(1, {deg}), "
            f"j -> (id * 31 + j * 97) % {n_nodes})) AS dst",
        ).localCheckpoint()
        times = timed("task_edges",
                      lambda: pagerank(edges, max_iterations=10).count())
        lines.append(
            f"| pagerank | {n_nodes:,} nodes / {n_nodes*deg:,} edges "
            f"| {times['single']:.2f} | {times['dist']:.2f} |"
        )

    for n_vecs, d in [(5_000, 64), (50_000, 64), (200_000, 64)]:
        vecs = spark.range(n_vecs).selectExpr(
            "id AS vec_id",
            f"transform(sequence(1, {d}), "
            "j -> cast(pmod(id * 131 + j * 17, 1000) as double) / 500.0 "
            "- 1.0) AS embedding",
        ).localCheckpoint()
        times = timed(
            "kmeans_pool_bytes",
            lambda: S.kmeans_train(vecs, k=16, max_iterations=5).count())
        lines.append(
            f"| kmeans_train | {n_vecs:,} x {d} | "
            f"{times['single']:.2f} | {times['dist']:.2f} |"
        )

    out = "\n".join(lines) + "\n"
    print(out)
    if len(sys.argv) > 1:
        with open(sys.argv[1], "a") as f:
            f.write(out)
        print(f"appended to {sys.argv[1]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
