#!/usr/bin/env python
"""Local differential oracle harness — mirrors the driver's check.

For every registered query: run the Spark callable and the DuckDB
oracle SQL over the same parquet dir, then compare row count, sorted
column names, and the order-insensitive multiset of canonicalized
values (bitwise float comparison — stricter than any hash).

Usage: python scripts/check_contract.py [sf_dir] [query ...]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Run every registered query (or the named ones) on "
        "Spark and on the DuckDB oracle and compare the results.")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("query", nargs="*",
                    help="check only these queries (default: all)")
    return ap.parse_args(argv)


def main() -> int:
    args = _parse_args()
    sf_dir, only = args.sf_dir, set(args.query)

    from datastore_mapper_spark.registry import all_queries
    from datastore_mapper_spark.session import get_session
    from datastore_mapper_spark.testing import compare_query, duckdb_oracle_connection

    specs = all_queries()
    if only:
        specs = {k: v for k, v in specs.items() if k in only}

    spark = get_session("contract-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_oracle_connection(sf_dir)

    n_pass = n_fail = n_rows_only = 0
    for name, spec in sorted(specs.items()):
        try:
            res = compare_query(spark, con, spec, sf_dir)
        except Exception as exc:
            print(f"FAIL  {name}: error: {exc}")
            n_fail += 1
            continue
        if spec.oracle is None:
            print(f"rows  {name}: {res.spark_rows} rows (rows-only)")
            n_rows_only += 1
        elif res.ok:
            print(f"PASS  {name}: {res.spark_rows} rows")
            n_pass += 1
        else:
            print(f"FAIL  {name}: " + "; ".join(res.problems))
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only "
          f"({len(specs)} total) @ {sf_dir}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
