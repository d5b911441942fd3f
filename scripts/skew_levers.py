#!/usr/bin/env python
"""Skew-lever quantification: wall-clock for a hot-key fact x dim join
and a hot-key aggregation under each mitigation the engine ships.

Synthetic fact: ``n_rows`` rows over ``n_keys`` join keys, with
``hot_pct`` % of ALL rows landing on ONE key — the adversarial shape
where hash partitioning puts a constant fraction of the table in a
single reducer.  Variants per shape (medians of ``runs``):

  join:  aqe_on   — plain equi join, AQE skew-join split active
         aqe_off  — plain equi join, AQE disabled (the naive plan)
         salted   — operators/scale.salted_join (dim x n_salts)
  agg:   plain    — groupBy(key).sum
         salted   — operators/scale.salted_groupby_sum (two-phase)

Prints a markdown table for SCALE.md §"Scale levers, measured".  On
local[32] the absolute numbers are modest (one JVM, no network); the
relevant signal is the RATIO between variants at the same shape, which
is what transfers to a 1000-executor cluster where the hot reducer is
a straggler bounded below by hot_rows/executor_throughput.

Usage: python scripts/skew_levers.py [n_rows] [hot_pct] [runs]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    hot_pct = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_keys = 10_000

    from pyspark.sql import functions as F

    from datastore_mapper_spark.operators.scale import (
        salted_groupby_sum,
        salted_join,
    )
    from datastore_mapper_spark.session import get_session

    spark = get_session("skew-levers")
    spark.sparkContext.setLogLevel("ERROR")

    # Deterministic skewed fact: first hot_pct% of row ids -> key 0,
    # the rest spread uniformly.  Materialized once so generation cost
    # is off every clock.
    fact = (
        spark.range(n_rows)
        .select(
            F.col("id").alias("row_id"),
            F.when(
                F.col("id") < int(n_rows * hot_pct / 100), F.lit(0)
            )
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys)))
            .alias("key"),
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)))
            .cast("decimal(18,2)")
            .alias("val"),
        )
        .repartition(64)
    )
    fact.write.mode("overwrite").parquet("_scratch/skew_fact")
    fact = spark.read.parquet("_scratch/skew_fact")
    dim = spark.range(n_keys).select(
        F.col("id").alias("key"), (F.col("id") % 7).alias("grp")
    )
    dim.write.mode("overwrite").parquet("_scratch/skew_dim")
    dim = spark.read.parquet("_scratch/skew_dim")

    def timed(fn):
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts)

    def set_confs(aqe: bool):
        spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(aqe).lower())
        # keep the dim from broadcasting so the skewed SHUFFLE join is
        # actually exercised (a broadcast join trivially dodges skew —
        # that IS lever #0, but not the one under measurement)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def join_plain():
        fact.join(dim, "key").groupBy("grp").agg(
            F.sum("val").alias("s"), F.count("*").alias("c")
        ).collect()

    def join_salted():
        j = salted_join(fact, dim, key="key", n_salts=8, fact_unique_col="row_id")
        j.groupBy("grp").agg(
            F.sum("val").alias("s"), F.count("*").alias("c")
        ).collect()

    def agg_plain():
        fact.groupBy("key").agg(F.sum("val").alias("s")).select(
            F.max("s")
        ).collect()

    def agg_salted():
        salted_groupby_sum(
            fact, "key", n_salts=16, sum_cols=["val"], unique_col="row_id"
        ).select(F.max("sum_val")).collect()

    def tune_aqe_thresholds():
        # At sandbox scale the hot partition (~tens of MB) sits under
        # AQE's default 256 MB skew threshold, so the splitter never
        # fires — exactly what a 100 TB hot key would NOT do.  Lower
        # the thresholds proportionally to emulate the at-scale
        # behavior of the DEFAULT confs on a partition 1000x larger.
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")

    def join_plain_df():
        return fact.join(dim, "key").groupBy("grp").agg(
            F.sum("val").alias("s"), F.count("*").alias("c")
        )

    print(f"| shape | variant | median s ({runs} runs) |")
    print("| --- | --- | --- |")
    set_confs(aqe=False)
    print(f"| join hot{hot_pct}% | aqe_off | {timed(join_plain):.2f} |", flush=True)
    set_confs(aqe=True)
    print(f"| join hot{hot_pct}% | aqe_default | {timed(join_plain):.2f} |", flush=True)
    tune_aqe_thresholds()
    print(f"| join hot{hot_pct}% | aqe_skew_split | {timed(join_plain):.2f} |", flush=True)
    # prove the splitter actually fired under the tuned thresholds
    probe = join_plain_df()
    probe.collect()
    final_plan = probe._jdf.queryExecution().executedPlan().toString()
    print(f"(aqe_skew_split plan contains skew=true: {'skew=true' in final_plan})",
          flush=True)
    for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ):
        spark.conf.unset(k)
    print(f"| join hot{hot_pct}% | salted | {timed(join_salted):.2f} |", flush=True)
    set_confs(aqe=True)
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    print(f"| agg hot{hot_pct}% | plain | {timed(agg_plain):.2f} |", flush=True)
    print(f"| agg hot{hot_pct}% | salted | {timed(agg_salted):.2f} |", flush=True)


if __name__ == "__main__":
    main()
