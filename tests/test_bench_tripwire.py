"""bench.py's measurement helpers, shared with scripts/time_registry.py.

The drift tripwire must fire when a median exceeds the previous
round's median by more than max(15%, that round's own min-max spread),
stay silent inside the band, and never crash on missing history.  The
baseline is the highest plain ``{BENCH,SWEEP}_r{N}.json`` round with
the run's core count and scale factor, the load gate waits on load1
AND load5, and per-group executor time comes from the status store
with the UI off."""

from __future__ import annotations

import itertools
import json
from types import SimpleNamespace

import pytest

import bench
from bench import (
    _drift_vs_previous_round,
    _executor_ms,
    _gate_on_load,
    _load_prev_bench,
)


def _latest_bench():
    prev = _load_prev_bench()
    assert prev, "committed bench artifacts should exist"
    return prev["::tag"], prev


def test_tripwire_silent_within_prior_spread():
    _, prev = _latest_bench()
    name, med = next(iter(prev["queries"].items()))
    hi = max(prev["spread"][name])
    assert _drift_vs_previous_round({name: hi}, prev) == []


def test_tripwire_fires_past_prior_spread():
    tag, prev = _latest_bench()
    name = next(iter(prev["queries"]))
    hi = max(prev["spread"][name])
    warnings = _drift_vs_previous_round({name: hi * 2}, prev)
    assert len(warnings) == 1
    assert name in warnings[0] and tag in warnings[0]


def test_tripwire_ignores_unknown_queries():
    # a brand-new headline query has no history — no warning, no crash
    _, prev = _latest_bench()
    assert _drift_vs_previous_round({"brand_new_query": 1.0}, prev) == []


@pytest.mark.parametrize("prefix", ["BENCH", "SWEEP"])
def test_baseline_is_highest_round_not_control_run(tmp_path, monkeypatch,
                                                   prefix):
    # sorted-glob order would pick r9_c8: r9 sorts after r10 and r12,
    # and a suffixed control/re-run file after its round's own file
    for name, value in [("r9", 9.0), ("r9_c8", 98.0), ("r10", 10.0),
                        ("r12", 12.0), ("r12_c8", 128.0),
                        ("r12_post", 129.0)]:
        (tmp_path / f"{prefix}_{name}.json").write_text(json.dumps(
            {"parsed": {"value": value, "queries": {}}}))
    (tmp_path / f"{prefix}_notes.json").write_text("{}")
    (tmp_path / "OTHER_r99.json").write_text("{}")
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    prev = _load_prev_bench(prefix)
    assert prev["::tag"] == f"{prefix}_r12.json" and prev["value"] == 12.0
    # a sweep writing its own round into the repo skips that file
    own = str(tmp_path / f"{prefix}_r12.json")
    prev = _load_prev_bench(prefix, exclude=own)
    assert prev["::tag"] == f"{prefix}_r10.json" and prev["value"] == 10.0


def _write_rounds(tmp_path, prefix, rounds):
    for n, wrapper, parsed in rounds:
        (tmp_path / f"{prefix}_r{n}.json").write_text(json.dumps(
            {**wrapper, "parsed": {"queries": {}, **parsed}}))


def test_baseline_skips_other_core_counts(tmp_path, monkeypatch):
    # a round matches on the wrapper's cpus or on bench.py's own
    # (local[N]'s N); older rounds carry only the wrapper's
    _write_rounds(tmp_path, "BENCH", [
        (15, {}, {"cpus": 4, "sf": 0.1}),
        (16, {"cpus": 4, "sf": 0.1}, {"sf": 0.1}),
        (17, {"cpus": 32, "sf": 0.1}, {"sf": 0.1}),
    ])
    # a failed run's wrapper matches but parsed no JSON line
    (tmp_path / "BENCH_r18.json").write_text(json.dumps(
        {"cpus": 4, "sf": 0.1, "rc": 1, "parsed": None}))
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    assert _load_prev_bench(cpus=4, sf=0.1)["::tag"] == "BENCH_r16.json"
    assert _load_prev_bench(cpus=32, sf=0.1)["::tag"] == "BENCH_r17.json"
    assert _load_prev_bench(cpus=8, sf=0.1) == {}


def test_baseline_skips_other_scale_factors(tmp_path, monkeypatch):
    _write_rounds(tmp_path, "SWEEP", [
        (15, {}, {"cpus": 4, "sf_dir": "/data/sf0.01"}),
        (16, {}, {"cpus": 4, "sf_dir": "/data/sf0.1"}),
    ])
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    prev = _load_prev_bench("SWEEP", cpus=4, sf_dir="/data/sf0.01")
    assert prev["::tag"] == "SWEEP_r15.json"
    assert _load_prev_bench("SWEEP", cpus=4, sf_dir="/data/sf1") == {}


def test_baseline_absent_or_unreadable(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    assert _load_prev_bench() == {}
    (tmp_path / "BENCH_r3.json").write_text("{not json")
    assert _load_prev_bench() == {}


def _fake_clock(monkeypatch, loads):
    """Drive the gate with scripted load averages: each poll takes the
    next (load1, load5, load15), the last one repeating, and each
    5 s sleep advances the clock by 5 s."""
    now = [0.0]
    polls = itertools.chain(loads, itertools.repeat(loads[-1]))

    def sleep(s):
        now[0] += s

    for var in ("SPARK_GRAFT_LOAD_GATE", "SPARK_GRAFT_LOAD5_GATE",
                "SPARK_GRAFT_LOAD_WAIT"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(bench.os, "getloadavg", lambda: next(polls))
    monkeypatch.setattr(bench, "time", SimpleNamespace(
        sleep=sleep, perf_counter=lambda: now[0]))


def test_load_gate_waits_on_load5(monkeypatch):
    # load1 is under its gate from the start, but load5 is not: the r16
    # driver run passed a load1-only gate like this and was contended
    # throughout
    _fake_clock(monkeypatch, [(0.5, 2.2, 1.0), (0.5, 2.0, 1.0),
                              (0.4, 1.4, 1.0)])
    warnings: list[str] = []
    info = _gate_on_load(warnings)
    assert info["waited_sec"] == 10.0
    assert info["load5_at_start"] == 1.4
    assert warnings == []


def test_load_gate_warns_when_wait_times_out(monkeypatch):
    _fake_clock(monkeypatch, [(0.5, 2.2, 1.0)])
    warnings: list[str] = []
    info = _gate_on_load(warnings)
    assert info["waited_sec"] == 300.0
    assert len(warnings) == 1 and "load5=2.20" in warnings[0]


def test_executor_ms_without_ui(spark, sf_dir):
    # executor time must be readable with the UI off, as on the shared
    # session and every session get_session builds
    assert spark.conf.get("spark.ui.enabled") == "false"
    from datastore_mapper_spark.registry import all_queries

    sc = spark.sparkContext
    sc.setJobGroup("bench_test_executor_ms", "executor-time probe")
    try:
        all_queries()["topk_global"].fn(spark, sf_dir).collect()
    finally:
        sc.setJobGroup(None, None)
    assert _executor_ms(spark, "bench_test_executor_ms") > 0


#: gate script -> the positionals its ``--help`` names
_HELP_POSITIONALS = {
    "time_registry.py": ("sf_dir", "out_path", "query"),
    "check_contract.py": ("sf_dir", "query"),
    "empty_input_differential.py": ("out.json",),
}


@pytest.mark.parametrize("script", sorted(_HELP_POSITIONALS))
def test_time_registry_help_exits_before_spark(script):
    """``--help`` prints the usage of the script's positionals and
    exits 0 without starting a Spark session (it used to be read as
    the first positional: a full sweep, or a report file named
    ``--help``)."""
    import os
    import subprocess
    import sys

    path = os.path.join(os.path.dirname(bench.__file__), "scripts", script)
    out = subprocess.run([sys.executable, path, "--help"],
                         capture_output=True, text=True, timeout=30)
    assert out.returncode == 0, out.stderr
    assert out.stdout.startswith(f"usage: {script}")
    assert all(p in out.stdout for p in _HELP_POSITIONALS[script])
