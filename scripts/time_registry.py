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
against the last committed ``SWEEP_r*.json`` — so contract rows that
never enter the 13-query headline bench (pivot/unpivot, higher-order
lambdas, map-type, bitwise aggs, stratified exact-k, ...) still get a
timing history and a first-drift alarm.

Output JSON: {"queries": {name: median_sec | "ERR ..."},
"spread": {name: [min, max]}, "codegen_compiles": {name: [per run]},
"runs": N, "sf_dir": ..., "drift_warnings": [...]}.  Older
SWEEP_r*.json files are flat {name: sec} — the tripwire reads both
shapes.  ``codegen_compiles`` counts the generated classes Janino
compiled during each run (``session.codegen_compiles``): a query whose
later runs still compile either put per-call values into generated code
or no longer fits the codegen cache beside the queries before it.

Usage: python scripts/time_registry.py [sf_dir] [out.json]
Continues past per-query errors (reported as "ERR ...") and writes the
partial results file after every query, so a crashed JVM loses nothing.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _prior_sweep(exclude: str = "") -> tuple[str, dict[str, float]]:
    """Latest committed SWEEP_r*.json as {name: seconds} (both the flat
    legacy shape and the structured round-8+ shape), plus its max
    spread where recorded.

    ``exclude`` is this run's own output path: when the driver writes
    SWEEP_rN.json directly into the repo, the glob would otherwise pick
    up the partial file the loop just wrote and the tripwire would
    compare the run AGAINST ITSELF — which is exactly how the round-10
    stream_stream_join 8.8 s → 18.9 s drift sailed through without a
    warning (round-10 VERDICT weak item #1)."""
    paths = sorted(
        p
        for p in glob.glob(os.path.join(REPO, "SWEEP_r*.json"))
        if not (exclude and os.path.abspath(p) == os.path.abspath(exclude))
    )
    if not paths:
        return "", {}
    try:
        with open(paths[-1]) as f:
            prev = json.load(f)
    except (OSError, json.JSONDecodeError):
        return "", {}
    queries = prev.get("queries", prev)
    spread = prev.get("spread", {})
    hi: dict[str, float] = {}
    for name, v in queries.items():
        if isinstance(v, str):
            continue
        s = spread.get(name)
        hi[name] = max(s) if s else float(v)
    return os.path.basename(paths[-1]), hi


def _gate_on_load() -> dict:
    """Same load gate as bench.py (round-11 VERDICT task 2): ambient
    load inflates medians 15-40% on this machine, so wait (up to
    ``$SPARK_GRAFT_LOAD_WAIT``, default 300 s) for the 1-min average
    to fall under ``$SPARK_GRAFT_LOAD_GATE`` (default 1.0) before the
    JVM starts, and record what was observed."""
    gate = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "1.0"))
    max_wait = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "300"))
    t0 = time.perf_counter()
    waited = 0.0
    try:
        while os.getloadavg()[0] > gate and waited < max_wait:
            time.sleep(5)
            waited = time.perf_counter() - t0
        l1, l5, l15 = os.getloadavg()
    except OSError:
        return {}
    return {"load1_at_start": round(l1, 2), "load5_at_start": round(l5, 2),
            "load15_at_start": round(l15, 2), "gate": gate,
            "waited_sec": round(waited, 1)}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/time_registry.json"
    n_runs = int(os.environ.get("SPARK_GRAFT_SWEEP_RUNS", "2"))
    load_info = _gate_on_load()

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
    out = {"queries": queries, "spread": spread,
           "codegen_compiles": compiles, "runs": n_runs, "sf_dir": sf_dir}
    if load_info:
        out["load"] = load_info
    for name, spec in all_specs.items():
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

    prev_tag, prev_hi = _prior_sweep(exclude=out_path)
    warnings = []
    for name, med in queries.items():
        hi = prev_hi.get(name)
        if isinstance(med, float) and hi is not None and med > max(hi, 0.5) * 1.5:
            ratio = f" ({med / hi:.2f}x)" if hi > 0 else ""
            warnings.append(
                f"{name}: median {med:.3f}s exceeds 1.5x {prev_tag} "
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
