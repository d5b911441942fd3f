#!/usr/bin/env python
"""Empty-input differential sweep (round-6, generalizing round-5
ADVICE items 3-4): every oracle-checked query is run against
ZERO-ROW fixture tables on BOTH engines and compared bitwise.

Degenerate inputs are where engines disagree silently — Spark
aggregates over no rows yield NULL where a count-shaped oracle yields
0, global aggregates still emit one row while grouped ones emit none,
first()/max() go NULL — and none of that is reachable from the
non-empty fixtures.  The round-5 ADVICE found two such latent
mismatches by manual inspection (median_exact_scalable,
graph_triangle_count); this sweep checks the whole class machine-wide.

Writes a JSON report; exits nonzero if any query errors out (a crash
on empty input is always a bug).  Value mismatches are reported but
non-fatal by default: a handful are DOCUMENTED engine-semantics
differences (see EMPTY_INPUT_KNOWN in the JSON) — everything else
should be fixed.

Usage: python scripts/empty_input_differential.py [out.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# same source and default as the pytest fixtures (tests/conftest.py)
SCHEMA_SRC = os.environ.get(
    "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


# Documented engine-semantics differences on EMPTY input only (no fix
# in the engine's plans is appropriate): Spark's ROLLUP/CUBE/GROUPING
# SETS over an empty table emit ZERO rows, while DuckDB (and the SQL
# standard / Postgres) emit the grand-total row for the () grouping set
# (count=0, aggregates NULL).  Verified directly against bare
# spark.createDataFrame([]).rollup(...) — Spark-core behavior, not a
# plan choice of this engine.
EMPTY_INPUT_KNOWN = {
    "agg_rollup": "spark emits no () grouping-set row on empty input",
    "agg_cube": "spark emits no () grouping-set row on empty input",
    "agg_grouping_sets": "spark emits no () grouping-set row on empty input",
    "agg_time_rollup": "spark emits no () grouping-set row on empty input",
    "grouping_id_diagnostics": "spark emits no () grouping-set row on empty input",
}


def _parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Run every registered query on zero-row fixture "
        "tables on Spark and on the DuckDB oracle and write the "
        "per-query statuses as JSON.")
    ap.add_argument("out_path", nargs="?", default="EMPTY_INPUT.json",
                    metavar="out.json")
    return ap.parse_args(argv)


def main() -> int:
    out_path = _parse_args().out_path

    from datastore_mapper_spark.registry import all_queries
    from datastore_mapper_spark.session import get_session
    from datastore_mapper_spark.testing import (
        compare_query,
        duckdb_oracle_connection,
        make_empty_fixtures,
    )

    sf_dir = make_empty_fixtures(SCHEMA_SRC)

    spark = get_session("empty-input-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_oracle_connection(sf_dir)

    report: dict[str, dict] = {}
    n_pass = n_mismatch = n_err = n_rows_only = 0
    for name, spec in sorted(all_queries().items()):
        try:
            res = compare_query(spark, con, spec, sf_dir)
        except Exception as exc:
            report[name] = {"status": "error", "err": repr(exc)[:400]}
            n_err += 1
            print(f"ERROR {name}: {exc!r}"[:200])
            continue
        if spec.oracle is None:
            report[name] = {"status": "rows-only", "rows": res.spark_rows}
            n_rows_only += 1
        elif res.ok:
            report[name] = {"status": "pass", "rows": res.spark_rows}
            n_pass += 1
        elif name in EMPTY_INPUT_KNOWN:
            report[name] = {
                "status": "known-difference",
                "why": EMPTY_INPUT_KNOWN[name],
                "problems": res.problems[:1],
            }
        else:
            report[name] = {
                "status": "mismatch",
                "problems": res.problems[:3],
            }
            n_mismatch += 1
            print(f"MISMATCH {name}: {'; '.join(res.problems)}"[:300])

    n_known = sum(
        1 for q in report.values() if q["status"] == "known-difference"
    )
    summary = {
        "pass": n_pass,
        "mismatch": n_mismatch,
        "known_difference": n_known,
        "error": n_err,
        "rows_only": n_rows_only,
    }
    with open(out_path, "w") as f:
        json.dump({"summary": summary, "queries": report}, f, indent=1)
    print(json.dumps(summary))
    return 1 if n_err else 0


if __name__ == "__main__":
    raise SystemExit(main())
