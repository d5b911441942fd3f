"""The bench drift tripwire (round-6 VERDICT task 7) must fire when a
median exceeds the previous round's recorded max spread, stay silent
inside the spread, and never crash on malformed/missing history."""

from __future__ import annotations

import json

import bench
from bench import _drift_vs_previous_round, _load_prev_bench


def _latest_bench():
    prev = _load_prev_bench()
    assert prev, "committed bench artifacts should exist"
    return prev["::tag"], prev


def test_tripwire_silent_within_prior_spread():
    _, prev = _latest_bench()
    name, med = next(iter(prev["queries"].items()))
    hi = max(prev["spread"][name])
    assert _drift_vs_previous_round({name: hi}) == []


def test_tripwire_fires_past_prior_spread():
    tag, prev = _latest_bench()
    name = next(iter(prev["queries"]))
    hi = max(prev["spread"][name])
    warnings = _drift_vs_previous_round({name: hi * 2})
    assert len(warnings) == 1
    assert name in warnings[0] and tag in warnings[0]


def test_tripwire_ignores_unknown_queries():
    # a brand-new headline query has no history — no warning, no crash
    assert _drift_vs_previous_round({"brand_new_query": 1.0}) == []


def test_baseline_is_highest_round_not_control_run(tmp_path, monkeypatch):
    # sorted-glob order would pick BENCH_r9_c8.json: r9 sorts after
    # r10 and r12, and the 8-core control run after its round's file
    for name, value in [("BENCH_r9.json", 9.0), ("BENCH_r9_c8.json", 98.0),
                        ("BENCH_r10.json", 10.0), ("BENCH_r12.json", 12.0),
                        ("BENCH_r12_c8.json", 128.0)]:
        (tmp_path / name).write_text(json.dumps(
            {"parsed": {"value": value, "queries": {}}}))
    (tmp_path / "BENCH_notes.json").write_text("{}")
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    prev = _load_prev_bench()
    assert prev["::tag"] == "BENCH_r12.json" and prev["value"] == 12.0


def test_baseline_absent_or_unreadable(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "HERE", str(tmp_path))
    assert _load_prev_bench() == {}
    (tmp_path / "BENCH_r3.json").write_text("{not json")
    assert _load_prev_bench() == {}
