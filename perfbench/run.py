#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 15 --trace 0

Runs one workload closed-loop from one driver thread on
``local[<cpus>]``: generates the seeded inputs, starts Spark, warms up
until the round times stop falling, then times whole rounds of ops:
``--seconds`` worth at the workload's nominal round time, and at least
as many ops as the tail percentile needs.  Every op's output is checked
outside the clock.

The last stdout line is the result: ``{"correct", "attempted",
"failed", "metrics"}`` with the end-to-end metrics (``--trace 0``) or
the per-layer metrics (``--trace 1``).  The line before it is a report
with the run context, the drift self-report and the details behind
each figure.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import pyspark  # noqa: E402
import records  # noqa: E402
import stats  # noqa: E402
from workloads import ETL_COMMITS, ETL_READS, WORKLOADS  # noqa: E402

#: The tail percentile reported; a run times at least
#: ``stats.min_samples(TAIL_Q)`` ops so ten samples lie beyond it.
TAIL_Q = 0.75
#: Warm-up rule: run the workload's minimum rounds, then continue while
#: the last round ran more than ``STEADY_GAIN`` faster than the one
#: before (the first, cold round is never compared), up to
#: ``MAX_WARMUP_ROUNDS`` rounds.
STEADY_GAIN = 0.10
MAX_WARMUP_ROUNDS = 6
#: JVM options of the driver (which hosts the executors in local mode).
#: C1-only JIT: C2 keeps speeding up Spark's driver code for ten and
#: more headline rounds, far past the warm-up a one-minute run can pay;
#: with C1 alone the round times are within a few percent of their
#: plateau by the third round.  A fixed
#: 1 GiB heap (initial = max) keeps the JVM's peak RSS from following
#: the collector's heap-growth decisions.
DRIVER_MEM = "1g"
JAVA_OPTS = f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEM}"


def process_start() -> float:
    """Epoch seconds at which this process started (Linux /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mib(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def configure_env(work: str, cpus: int) -> None:
    """Point every file Spark and its Python workers write into ``work``
    and fix the session's size, before the JVM starts."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.pop("SPARK_GRAFT_UI", None)
    os.environ.update({
        # no hsperfdata files in the host's /tmp, from any JVM started
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options",
            shlex.quote(f"{JAVA_OPTS} -Djava.io.tmpdir={tmp}"),
            "--conf spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(
                f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]),
    })


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.w = WORKLOADS[args.workload](work, args.seed)
        self.setup: dict[str, float] = {}
        self.failed = 0
        self.attempted = 0
        self.round_stats: list[dict] = []
        self.recs: list[dict] = []
        self.stream: dict | None = None

    # -- one op ---------------------------------------------------------
    def run_op(self, name: str, group: str | None) -> tuple[float, dict, bool]:
        rec: dict = {"name": name}
        if group is not None:
            self.sc.setJobGroup(group, name)
        ok = True
        t0 = time.perf_counter()
        try:
            result = self.w.run_op(name, rec)
        except Exception as exc:  # an op that raises is a failed op
            print(f"op {name} raised: {exc!r}", file=sys.stderr)
            result, ok = None, False
        lat = (time.perf_counter() - t0) * 1000
        if group is not None:
            # checks and trace reads run no job under the op's group
            self.sc.setJobGroup("perfbench-untimed", "checks")
        t_chk = time.perf_counter()
        if ok:
            try:
                ok = self.w.check(name, result)
            except Exception as exc:
                print(f"check of {name} raised: {exc!r}", file=sys.stderr)
                ok = False
            if not ok:
                print(f"op {name}: wrong result", file=sys.stderr)
        rec["wall_ms"] = lat
        rec["check_s"] = time.perf_counter() - t_chk
        return lat, rec, ok

    def ops_of_round(self, r: int) -> list[str]:
        if self.w.shuffled:
            return inputs.op_order(self.w.round_ops, 1, self.args.seed * 1000 + r)
        return list(self.w.round_ops)

    # -- phases ---------------------------------------------------------
    def start(self) -> None:
        t = time.time()
        self.w.prepare()
        self.setup["setup.inputs_ms"] = (time.time() - t) * 1000
        configure_env(self.work, self.cpus)
        t = time.time()
        from datastore_mapper_spark.session import get_session

        self.spark = get_session("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.setup["session.start_ms"] = (time.time() - t) * 1000
        t = time.time()
        self.w.start(self.spark)
        self.setup["registry.import_ms"] = (time.time() - t) * 1000
        if self.args.trace:
            self.store = records.StatusStore(self.spark)
            if hasattr(self.w, "watch_streams"):
                self.listener = records.TriggerListener()
                self.w.watch_streams(self.listener)

    def warm_up(self) -> None:
        t = time.time()
        walls: list[float] = []
        n_ops = 0
        while True:
            r0 = time.perf_counter()
            for name in self.ops_of_round(len(walls)):
                _lat, _rec, ok = self.run_op(name, None)
                n_ops += 1
                if not ok:
                    raise RuntimeError(f"warm-up op {name} failed")
            self.w.end_round()
            walls.append(time.perf_counter() - r0)
            if len(walls) >= MAX_WARMUP_ROUNDS:
                break
            if len(walls) >= self.w.min_warmup_rounds and (
                    len(walls) < 3
                    or walls[-1] >= (1 - STEADY_GAIN) * walls[-2]):
                break
        self.warmup_rounds = walls
        self.setup["setup.warmup_ms"] = (time.time() - t) * 1000
        self.setup["setup.warmup_ops"] = n_ops

    def timed_rounds(self) -> int:
        """Rounds in the timed window: ``--seconds`` worth at the
        workload's nominal round time, and at least enough for the tail
        percentile.  A count, not a deadline, so every run with the same
        ``--seconds`` times the same multiset of ops."""
        tail = math.ceil(stats.min_samples(TAIL_Q) / len(self.w.round_ops))
        return max(tail, round(self.args.seconds / self.w.nominal_round_s))

    def timed(self) -> None:
        lats: list[float] = []
        names: list[str] = []
        overhead = 0.0  # checks, trace reads and cleanup between ops
        start = time.perf_counter()
        r = len(self.warmup_rounds)
        round_ms: list[float] = []
        for _ in range(self.timed_rounds()):
            n0 = len(lats)
            for name in self.ops_of_round(r):
                group = f"op{self.attempted}" if self.args.trace else None
                lat, rec, ok = self.run_op(name, group)
                t_trace = time.perf_counter()
                self.attempted += 1
                self.failed += 0 if ok else 1
                lats.append(lat)
                names.append(name)
                if self.args.trace and ok:
                    self.collect_trace(group, rec)
                    self.recs.append(rec)
                overhead += (time.perf_counter() - t_trace) + rec["check_s"]
            t_end = time.perf_counter()
            self.round_stats.append(self.w.end_round())
            overhead += time.perf_counter() - t_end
            round_ms.append(sum(lats[n0:]))
            r += 1
        self.window_s = time.perf_counter() - start - overhead
        self.window_wall_s = time.perf_counter() - start
        self.timed_round_ms = round_ms
        self.lats, self.names = lats, names

    def collect_trace(self, group: str, rec: dict) -> None:
        rec.update(self.store.group(group))
        self.w.trace(rec["name"], rec)
        df = rec.pop("df", None)
        if df is not None:
            rec["phases"] = records.catalyst_phases(df)

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers it forked) to exit."""
        if not hasattr(self, "sc"):
            return
        gateway = self.sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)

    # -- results --------------------------------------------------------
    def layers(self) -> dict[str, float]:
        """Per-layer metrics from the traced window (see README)."""
        recs = self.recs
        n = max(1, len(recs))
        out = dict(self.setup)
        acc = {k: 0.0 for k in (
            "queries.build_ms", "queries.build_jobs", "catalyst.analysis_ms",
            "catalyst.optimization_ms", "catalyst.planning_ms",
            "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
            "scheduler.job_wall_ms", "driver.other_ms", "executor.run_ms",
            "executor.cpu_ms", "executor.gc_ms",
            "executor.shuffle_read_bytes", "executor.shuffle_write_bytes",
            "executor.spill_bytes", "collect.rows")}
        wall_total = job_wall_total = 0.0
        sum_error = 0.0
        for rec in recs:
            t0, t1, t2 = (m * 1000 for m in rec["marks"])
            wall = rec["wall_ms"]
            jobs = rec["intervals"]
            phases = rec.get("phases", {})
            ph = {k: b - a for k, (a, b) in phases.items()}
            job_wall = records.union_ms(jobs, t0, t2)
            # fn() wall less its eager jobs and the final plan's analysis
            analysis = [phases["analysis"]] if "analysis" in phases else []
            build = max(0.0, (t1 - t0) - records.union_ms(jobs + analysis, t0, t1))
            parts = (build + ph.get("analysis", 0) + ph.get("optimization", 0)
                     + ph.get("planning", 0) + job_wall)
            other = wall - parts
            sum_error = max(sum_error, max(0.0, -other) / wall)
            acc["queries.build_ms"] += build
            acc["queries.build_jobs"] += sum(1 for a, _b in jobs if a < t1)
            acc["catalyst.analysis_ms"] += ph.get("analysis", 0)
            acc["catalyst.optimization_ms"] += ph.get("optimization", 0)
            acc["catalyst.planning_ms"] += ph.get("planning", 0)
            acc["scheduler.jobs"] += rec["jobs"]
            acc["scheduler.stages"] += rec["stages"]
            acc["scheduler.tasks"] += rec["tasks"]
            acc["scheduler.job_wall_ms"] += job_wall
            acc["driver.other_ms"] += max(0.0, other)
            acc["executor.run_ms"] += rec["run_ms"]
            acc["executor.cpu_ms"] += rec["cpu_ms"]
            acc["executor.gc_ms"] += rec["gc_ms"]
            acc["executor.shuffle_read_bytes"] += rec["shuffle_read_bytes"]
            acc["executor.shuffle_write_bytes"] += rec["shuffle_write_bytes"]
            acc["executor.spill_bytes"] += rec["spill_bytes"]
            acc["collect.rows"] += rec.get("rows", 0)
            wall_total += wall
            job_wall_total += job_wall
        out.update({k: v / n for k, v in acc.items()})
        out["driver.share"] = 1 - job_wall_total / wall_total if wall_total else 0.0
        out["executor.busy_share"] = (
            acc["executor.run_ms"] / (job_wall_total * self.cpus)
            if job_wall_total else 0.0)
        out["trace.sum_error"] = sum_error
        out["trace.ops_per_s"] = self.ops_per_s()

        def med(names, key="wall_ms"):
            vals = [r[key] for r in recs if r["name"] in names and key in r]
            return statistics.median(vals) if vals else 0.0

        out["acid.create_ms"] = med({"create"})
        out["acid.append_ms"] = med({"append1", "append2", "append3"})
        out["acid.merge_upsert_ms"] = med({"merge_upsert"})
        out["acid.delete_where_dv_ms"] = med({"delete_where_dv"})
        out["acid.optimize_ms"] = med({"optimize"})
        out["acid.read_ms"] = med(ETL_READS)
        out["acid.files_per_commit"] = med(ETL_COMMITS, "commit_files")
        out["acid.bytes_per_commit"] = med(ETL_COMMITS, "commit_bytes")
        out["acid.files_per_read"] = med(ETL_READS, "files_read")
        out["mapper.run_ms"] = med({"mapper"})
        mapped = [r for r in recs if r["name"] == "mapper"]
        out["mapper.entities_per_s"] = (
            statistics.median(self.w.plan.mapper_key_limit / (r["wall_ms"] / 1000)
                              for r in mapped) if mapped else 0.0)
        out["writer.files"] = med({"mapper"}, "writer_files")
        out["writer.bytes"] = med({"mapper"}, "writer_bytes")
        probe = self.stream or {}
        triggers = probe.get("triggers", [])
        out["stream.trigger_ms"] = sum(t.get("triggerExecution", 0) for t in triggers)
        out["stream.add_batch_ms"] = sum(t.get("addBatch", 0) for t in triggers)
        out["stream.start_ms"] = probe.get("stream_start_ms", 0.0)
        out.update(self.etl_figures())
        return out

    def etl_figures(self) -> dict[str, float]:
        """The etl_rw-only figures (0 on other workloads)."""
        def med_of(names):
            vals = [lat for lat, n in zip(self.lats, self.names) if n in names]
            return statistics.median(vals) if vals else 0.0

        bpub = [s["bytes_per_user_byte"] for s in self.round_stats
                if "bytes_per_user_byte" in s]
        return {
            "etl.write_p50_ms": med_of(ETL_COMMITS),
            "etl.read_p50_ms": med_of(ETL_READS),
            "etl.bytes_per_user_byte": statistics.median(bpub) if bpub else 0.0,
        }

    def ops_per_s(self) -> float:
        return (self.attempted - self.failed) / self.window_s


def run(args, work: str) -> tuple[dict, dict]:
    t_start = process_start()
    load_start = os.getloadavg()[:2]
    runner = Runner(args, work)
    try:
        return measure(args, runner, t_start, load_start)
    finally:
        runner.shutdown()


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the host's CPUs so far (/proc/stat)."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def measure(args, runner: Runner, t_start: float, load_start) -> tuple[dict, dict]:
    runner.start()
    runner.warm_up()
    setup_s = time.time() - t_start
    steal0 = cpu_steal()
    runner.timed()
    steal1 = cpu_steal()
    # before the oracle check loads DuckDB into this process
    jvm_pid = runner.spark._jvm.java.lang.ProcessHandle.current().pid()
    rss = peak_rss_mib(os.getpid()) + peak_rss_mib(int(jvm_pid))
    oracle = (runner.w.oracle_problems()
              if hasattr(runner.w, "oracle_problems") else [])
    if args.trace and hasattr(runner.w, "stream_probe"):
        runner.stream = runner.w.stream_probe()

    lats = runner.lats
    e2e = {
        "setup_s": setup_s,
        "ops_per_s": runner.ops_per_s(),
        "op_p50_ms": statistics.median(lats),
        "op_p75_ms": stats.percentile(lats, TAIL_Q),
        "peak_rss_mb": rss,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cpus": runner.cpus,
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "commit": git_commit(),
        "java_opts": JAVA_OPTS,
        "load1_load5_start": [round(x, 2) for x in load_start],
        "load1_load5_end": [round(x, 2) for x in os.getloadavg()[:2]],
        # share of CPU time the hypervisor gave to other guests while
        # the timed window ran: the host noise behind a slow run
        "steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "samples": len(lats),
        "tail_percentile": TAIL_Q,
        "timed_round_ms": runner.timed_round_ms,
        "window_s": runner.window_s,
        "window_wall_s": runner.window_wall_s,
        "warmup_round_s": runner.warmup_rounds,
        "drift_ratio": stats.drift_ratio(lats, runner.names),
        "op_error_share": runner.failed / runner.attempted,
        "oracle_mismatches": oracle,
        "setup": runner.setup,
        "op_median_ms": {n: statistics.median(
            [lat for lat, m in zip(lats, runner.names) if m == n])
            for n in sorted(set(runner.names))},
        **runner.etl_figures(),
        "stream_probe_ok": (runner.stream or {}).get("ok"),
    }
    metrics = runner.layers() if args.trace else None
    return report, {
        "correct": (runner.failed == 0 and not oracle
                    and (runner.stream or {}).get("ok", True)),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "e2e": e2e,
        "layers": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail fast, before any work, when the program is not importable
    import datastore_mapper_spark  # noqa: F401

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report, res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    # BENCHMARK.json names the metrics and their units
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    values = res["layers"] if args.trace else res["e2e"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
