"""Job counters (reference surface A6, counters.go `[REF-mem]`).

The reference accumulates named counters per slice -> shard -> job.
Spark's native equivalents, in preference order:

1. ``df.observe(name, exprs...)`` — metrics piggyback on the job that
   materializes the DataFrame; zero extra passes, exactly-once per
   action (the form used here);
2. accumulators — imperative, at-least-once under task retry (the
   reference's counters had the same retry-overcount caveat);
3. plain aggregates — when a separate pass is acceptable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation


def observed_counters(
    df: DataFrame, **counter_exprs
) -> tuple[DataFrame, Observation]:
    """Attach named counters to ``df``; read them after the next action.

    >>> df2, obs = observed_counters(df, rows=F.count(F.lit(1)),
    ...                              revenue=F.sum("price"))
    >>> df2.write.parquet(...)   # any action
    >>> obs.get  # {'rows': ..., 'revenue': ...}
    """
    obs = Observation()
    named = [expr.alias(name) for name, expr in counter_exprs.items()]
    return df.observe(obs, *named), obs

