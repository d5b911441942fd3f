"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import stats  # noqa: E402
from records import union_ms  # noqa: E402


def _tree_digest(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_op_order_is_seeded_and_balanced():
    names = ["a", "b", "c", "d", "e"]
    one = inputs.op_order(names, 8, seed=3)
    assert one == inputs.op_order(names, 8, seed=3)
    assert one != inputs.op_order(names, 8, seed=4)
    assert all(one.count(n) == 8 for n in names)
    # every round is one full pass over the multiset
    for r in range(8):
        assert sorted(one[r * 5:(r + 1) * 5]) == names


def test_fixtures_identical_for_same_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert inputs.write_fixtures(a, 7) == inputs.write_fixtures(b, 7)
    assert _tree_digest(a) == _tree_digest(b)
    inputs.write_fixtures(c, 8)
    assert _tree_digest(a)["lineitem.parquet"] != _tree_digest(c)["lineitem.parquet"]


def test_etl_inputs_identical_for_same_seed(tmp_path):
    a = inputs.write_etl_inputs(str(tmp_path / "a"), 5)
    b = inputs.write_etl_inputs(str(tmp_path / "b"), 5)
    strip = lambda p: (p.counts, p.final_by_grp, p.user_bytes,  # noqa: E731
                       p.delete_lo, p.delete_hi, p.mapper_key_limit)
    assert strip(a) == strip(b)
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    assert strip(a) != strip(inputs.write_etl_inputs(str(tmp_path / "c"), 6))


def test_etl_counts_follow_the_commits(tmp_path):
    p = inputs.write_etl_inputs(str(tmp_path), 1)
    base, a1, a2, a3, merged, deleted = p.counts
    assert base == inputs.ETL_BASE_ROWS
    assert a3 - base == 3 * inputs.ETL_APPEND_ROWS
    assert merged - a3 == inputs.ETL_MERGE_INSERTS
    assert 0 < merged - deleted <= p.delete_hi - p.delete_lo + 1
    assert sum(n for _g, n, _s in p.final_by_grp) == deleted


def test_dyadic_sums_are_order_independent(tmp_path):
    import pyarrow.parquet as pq

    inputs.write_fixtures(str(tmp_path), 2)
    li = pq.read_table(str(tmp_path / "lineitem.parquet")).to_pydict()
    charge = [p * (1 - d) * (1 + t) for p, d, t in
              zip(li["l_extendedprice"], li["l_discount"], li["l_tax"])]
    assert sum(charge) == sum(reversed(charge)) == sum(sorted(charge))


@pytest.mark.parametrize("q,n", [(0.5, 20), (0.75, 40), (0.9, 100)])
def test_percentile_needs_ten_samples_beyond(q, n):
    assert stats.min_samples(q) == n
    values = [float(i) for i in range(1, n + 1)]
    got = stats.percentile(values, q)
    assert sum(v > got for v in values) >= stats.MIN_BEYOND
    with pytest.raises(ValueError):
        stats.percentile(values[:-1], q)


def test_percentile_is_order_insensitive():
    values = [float(v) for v in range(40, 0, -1)]
    assert stats.percentile(values, 0.75) == 30.0
    assert stats.percentile(sorted(values), 0.75) == 30.0


def test_drift_ratio_flags_a_trend_only():
    kinds = ["a", "b"] * 20
    flat = [10.0 if k == "a" else 100.0 for k in kinds]
    assert stats.drift_ratio(flat, kinds) == pytest.approx(1.0)
    falling = [v * (1 - i / 80) for i, v in enumerate(flat)]
    assert stats.drift_ratio(falling, kinds) < 0.8


def test_union_ms_counts_overlap_once():
    assert union_ms([(0, 10), (5, 15), (20, 25)]) == 20
    assert union_ms([(0, 10), (5, 15)], lo=8, hi=12) == 4
    assert union_ms([]) == 0
