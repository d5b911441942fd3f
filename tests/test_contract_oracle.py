"""Differential oracle tests: every SURVEY §2.B query vs DuckDB at
sf0.001 (fast twin of the driver's sf0.01 gate; run the full-scale
check with scripts/check_contract.py)."""

from __future__ import annotations

import pytest

from datastore_mapper_spark.registry import all_queries
from datastore_mapper_spark.testing import compare_query

SPECS = all_queries()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, oracle, sf_dir):
    spec = SPECS[name]
    res = compare_query(spark, oracle, spec, sf_dir)
    assert res.ok, f"{name}: {'; '.join(res.problems)}"
    if spec.oracle is None:
        assert res.spark_rows >= 0  # rows-only: must at least execute


def test_pandas_probe_catches_decimal_seam(spark, oracle):
    """Regression lock on the round-7 driver seam (VERDICT task 2):
    Spark ``toPandas()`` renders Decimals at full scale ('154.0000')
    while DuckDB ``fetchdf()`` converts DECIMAL to float64 whose repr
    drops trailing zeros ('154.0').  A raw-DECIMAL output column must
    FAIL the probe whenever any value has a trailing zero at its
    scale; the agg_decimal_exact finisher (final CAST to DOUBLE on
    both engines) must PASS.  This is the gate every query must clear
    before rotating into the driver window."""
    from datastore_mapper_spark.testing import pandas_probe

    # 2.50 sums to 10.00 — a trailing-zero decimal, the red class.
    sdf_raw = spark.sql(
        "SELECT 'k' AS k, CAST(10.00 AS DECIMAL(18,2)) AS v"
    )
    assert pandas_probe(
        sdf_raw, oracle, "SELECT 'k' AS k, CAST(10.00 AS DECIMAL(18,2)) AS v"
    ), "probe must red a raw DECIMAL trailing-zero output"

    # The proven fix: identical exact decimal, final cast to DOUBLE.
    sdf_dbl = spark.sql(
        "SELECT 'k' AS k, CAST(CAST(10.00 AS DECIMAL(18,2)) AS DOUBLE) AS v"
    )
    assert not pandas_probe(
        sdf_dbl, oracle,
        "SELECT 'k' AS k, CAST(CAST(10.00 AS DECIMAL(18,2)) AS DOUBLE) AS v",
    ), "double-cast form must be probe-green"


def test_no_decimal_output_in_driver_window(spark, sf_dir):
    """No query in the 50-row graded window may output a raw DECIMAL
    column — the seam above makes any such column a deterministic or
    luck-of-the-last-digit driver red (round-7 VERDICT item 1)."""
    from datastore_mapper_spark.queries import _CONTRACT_ORDER

    offenders = {}
    for n in _CONTRACT_ORDER[:50]:
        sdf = SPECS[n].fn(spark, sf_dir)
        decs = [(c, t) for c, t in sdf.dtypes if t.startswith("decimal")]
        if decs:
            offenders[n] = decs
    assert not offenders, f"raw DECIMAL outputs in driver window: {offenders}"


def test_contract_rows_registered_first():
    """The verification driver grades the FIRST 50 registered queries;
    the §2.B contract must own that window (and the contract tail must
    follow immediately) regardless of how modules import later."""
    from datastore_mapper_spark.queries import _CONTRACT_ORDER

    names = list(SPECS)
    assert names[: len(_CONTRACT_ORDER)] == _CONTRACT_ORDER
    # round-16 rotation (REGISTRY.md "Driver-grading rotation"): rows
    # 1-30 pinned §2.B core, rows 31-50 the r15 flagship swap-forwards
    # (r15 VERDICT task 3): CDF streaming source + IVM hop, type
    # widening, SemDeDup, the mixture/decontamination/chunking wave,
    # tag retention / refs metadata / binpack OPTIMIZE, the r15
    # stats/text rows, and four analytics-second-half queue heads
    assert names[30] == "stream_acid_cdf_source"
    assert names[33] == "dedup_semantic_clusters"
    assert names[40] == "acid_optimize_binpack"
    assert names[49] == "yule_k_vocabulary_richness"
    # every row of the round-16 graded window is oracle-checked
    for n in _CONTRACT_ORDER[:50]:
        assert SPECS[n].oracle is not None, n


def test_attribution_lcm_denominator_covers_touch_types(oracle):
    """attribution_linear_multi_touch keeps 1/k fractions exact by
    crediting integer units of 840 DIV k (840 = lcm(1..8)).  If the
    fixture ever gains a 9th+ distinct non-purchase event type, the
    integer division truncates IDENTICALLY on both engines, so the
    oracle hash cannot catch it (round-8 ADVICE).  Pin the invariant
    the scheme depends on here instead."""
    n = oracle.execute(
        "SELECT count(DISTINCT event_type) FROM events "
        "WHERE event_type <> 'purchase'"
    ).fetchone()[0]
    assert n <= 8, (
        f"{n} distinct touch types > 8: raise the LCM denominator in "
        "attribution_linear_multi_touch (Spark AND oracle) before "
        "trusting its credit_units"
    )


@pytest.fixture(scope="module")
def empty_oracle(sf_dir):
    from datastore_mapper_spark.testing import (
        duckdb_oracle_connection,
        make_empty_fixtures,
    )

    empty_dir = make_empty_fixtures(sf_dir)
    con = duckdb_oracle_connection(empty_dir)
    yield empty_dir, con
    con.close()


@pytest.mark.parametrize(
    "name", sorted(n for n in SPECS if n.startswith("multimodal_")))
def test_multimodal_query_matches_oracle_on_zero_rows(
        name, spark, empty_oracle):
    """On zero-row fixtures every media query still matches the oracle:
    the media funnel types batches that hold no rows (the tier-1 twin
    of scripts/empty_input_differential.py for these queries)."""
    empty_dir, con = empty_oracle
    res = compare_query(spark, con, SPECS[name], empty_dir)
    assert res.ok, f"{name}: {'; '.join(res.problems)}"
