#!/usr/bin/env python
"""Straggler hunt: execute EVERY registered query at a scale factor and
report per-query wall-clock, slowest first.

The oracle harness proves correctness at sf0.01; this proves the whole
registry is *executable* and bounded at the benchmark scale — which the
headline bench alone does not.  The round-5 sweep at sf0.1 caught two
real scale bugs the per-query tests missed: PageRank re-executing its
upstream edge plan every iteration (~27 min for a 2-minute query) and
the triangle wedge-join OOM on the clique-heavy near-dup graph.

Round-8 (round-7 VERDICT task 7): each query now runs
``$SPARK_GRAFT_SWEEP_RUNS`` times (default 2) recording the median
plus min/max spread, and the sweep carries its own drift tripwire
against the last committed ``SWEEP_r{N}.json`` — so contract rows that
never enter the 13-query headline bench (pivot/unpivot, higher-order
lambdas, map-type, bitwise aggs, stratified exact-k, ...) still get a
timing history and a first-drift alarm.  The load gate and the
baseline pick are bench.py's (``_gate_on_load``, ``_load_prev_bench``).

Output JSON: {"queries": {name: median_sec | "ERR ..."},
"spread": {name: [min, max]}, "codegen_compiles": {name: [per run]},
"runs": N, "sf_dir": ..., "cpus": N, "baseline": tag | "none
comparable", "drift_warnings": [...]}.  The baseline is the latest
SWEEP round with the same ``cpus`` and ``sf_dir``.  Older
SWEEP_r*.json files are flat {name: sec} — the tripwire reads both
shapes.  ``codegen_compiles`` counts the generated classes Janino
compiled during each run (``session.codegen_compiles``): a query whose
later runs still compile either put per-call values into generated code
or no longer fits the codegen cache beside the queries before it.

Usage: python scripts/time_registry.py [sf_dir] [out.json] [query ...]
Trailing query names time only those queries (before/after receipts
without the full sweep), with the same output.  Continues past
per-query errors (reported as "ERR ...") and writes the partial results
file after every query, so a crashed JVM loses nothing.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import _gate_on_load, _load_prev_bench  # noqa: E402


def _parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Time every registered query (or the named ones) at "
        "one scale factor, slowest first.",
        epilog="Each query runs $SPARK_GRAFT_SWEEP_RUNS times (default 2).")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("out_path", nargs="?", default="/tmp/time_registry.json")
    ap.add_argument("query", nargs="*",
                    help="time only these queries (default: all)")
    return ap.parse_args(argv)


def main() -> int:
    args = _parse_args()
    sf_dir, out_path, only = args.sf_dir, args.out_path, args.query
    n_runs = int(os.environ.get("SPARK_GRAFT_SWEEP_RUNS", "2"))
    env_warnings: list[str] = []
    load_info = _gate_on_load(env_warnings)
    for w in env_warnings:
        print(f"ENV WARNING: {w}", file=sys.stderr)

    from datastore_mapper_spark.catalog import load_tables
    from datastore_mapper_spark.registry import all_queries
    from datastore_mapper_spark.session import codegen_compiles, get_session

    spark = get_session("time-registry")
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, sf_dir)["lineitem"].count()  # warm up

    # UNTIMED warm-up prelude (round-14, closing the r13 drift class):
    # the first ~dozen timed queries used to run in a barely-warmed JVM
    # — whole-stage-codegen compilation, the streaming planner, Python
    # worker pools, and the parquet committer all first-touch there —
    # so ROTATING a query into window positions 31-50 inflated it
    # 1.1-1.7x vs its deep-position measurement the round before
    # (SWEEP_r13's five "drifts" were exactly the rotated-in queries;
    # moved-out queries sped up 0.90x symmetric, stationary rows 0.95x
    # flat).  Exercising one representative of each engine subsystem
    # before the timed loop makes positions comparable across rounds.
    warm = ["join_multiway_revenue", "window_rank_topn_per_group",
            "multimodal_jpeg_decode_stats", "stream_tumbling_demo",
            "acid_compact_optimize", "udf_pandas_vectorized"]
    all_specs = all_queries()
    specs = {n: all_specs[n] for n in only} if only else all_specs
    for wname in warm:
        spec = all_specs.get(wname)
        if spec is None:
            continue
        try:
            with contextlib.redirect_stdout(io.StringIO()):
                spec.fn(spark, sf_dir).collect()
        except Exception:
            pass  # warm-up never fails the sweep
    try:  # drop blocks the warm-up left behind (same as _isolate below)
        for rdd in list(
                spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)
    except Exception:
        pass

    def _isolate() -> None:
        """Drop blocks a finished query left behind (persisted ranged
        frames, localCheckpoint edge lists).  Without this, storage
        pressure from earlier queries pollutes later measurements —
        observed round 6: graph_triangle_count read 611 s inside the
        sweep vs 221 s isolated.  Keeps the catalog's lazy table cache
        (plans only, no blocks)."""
        try:
            for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
                rdd.unpersist(False)
        except Exception:
            pass

    queries: dict[str, float | str] = {}
    spread: dict[str, list[float]] = {}
    compiles: dict[str, list[int]] = {}
    cpus = spark.sparkContext.defaultParallelism
    out = {"queries": queries, "spread": spread,
           "codegen_compiles": compiles, "runs": n_runs, "sf_dir": sf_dir,
           "cpus": cpus}
    if load_info:
        out["load"] = load_info
    if env_warnings:
        out["env_warnings"] = env_warnings
    for name, spec in specs.items():
        times: list[float] = []
        compiles[name] = []
        err = None
        for _ in range(n_runs):
            try:
                c0 = codegen_compiles(spark)
                t0 = time.perf_counter()
                with contextlib.redirect_stdout(io.StringIO()):
                    spec.fn(spark, sf_dir).collect()
                times.append(round(time.perf_counter() - t0, 3))
                compiles[name].append(codegen_compiles(spark) - c0)
            except Exception as exc:  # keep hunting past one bad query
                err = f"ERR {type(exc).__name__}: {exc}"[:200]
                _isolate()
                break
            _isolate()
        if err is not None:
            queries[name] = err
        else:
            queries[name] = round(statistics.median(times), 3)
            spread[name] = [min(times), max(times)]
        print(name, queries[name], flush=True)
        with open(out_path, "w") as f:
            json.dump(out, f)

    # drift rule: median past 1.5x the prior round's max (floor 0.5 s)
    prev = _load_prev_bench("SWEEP", exclude=out_path, cpus=cpus,
                            sf_dir=sf_dir)
    out["baseline"] = prev.get("::tag", "none comparable")
    prev_queries = prev.get("queries", prev)  # pre-round-8 files are flat
    warnings = []
    for name, med in queries.items():
        pv = prev_queries.get(name)
        if not isinstance(pv, (int, float)) or not isinstance(med, float):
            continue  # no prior timing, or an ERR on either side
        hi = max((prev.get("spread") or {}).get(name) or [pv])
        if med > max(hi, 0.5) * 1.5:
            ratio = f" ({med / hi:.2f}x)" if hi > 0 else ""
            warnings.append(
                f"{name}: median {med:.3f}s exceeds 1.5x {prev['::tag']} "
                f"max {hi:.3f}s{ratio}"
            )
    if warnings:
        out["drift_warnings"] = warnings
        for w in warnings:
            print(f"DRIFT WARNING: {w}", file=sys.stderr)
    with open(out_path, "w") as f:
        json.dump(out, f)

    timed = sorted(
        ((v, k) for k, v in queries.items() if not isinstance(v, str)),
        reverse=True,
    )
    errs = {k: v for k, v in queries.items() if isinstance(v, str)}
    print(f"\n== slowest ({sf_dir}) ==")
    for v, k in timed[:15]:
        print(f"{v:9.2f}  {k}")
    print(f"\n{len(timed)} ok, {len(errs)} errors, "
          f"total {sum(v for v, _ in timed):.1f}s -> {out_path}")
    per_run = [sum(c[i] for c in compiles.values() if len(c) > i)
               for i in range(n_runs)]
    print(f"codegen compiles per run: {per_run}")
    for k, v in errs.items():
        print(f"ERR  {k}: {v}")
    spark.stop()
    # Partial JSON is already on disk; still exit nonzero so wrappers
    # keying off the status don't silently pass on per-query errors.
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
