"""Cost routing between a one-task numpy kernel and a distributed loop.

``CAPS`` holds every routing threshold once, :func:`fits` is the one
predicate the operators ask, and :func:`single_task` is the one funnel
into a single task.  Tests force a route by setting ``CAPS[name]`` to
-1 (never fits) or ``10**18`` (always fits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ._alloc import keep_large_allocs_on_heap

#: name -> the largest statistic that still takes the cheap route.
CAPS: dict[str, int] = {
    # CC, pagerank, LPA edges in one task (~24 B/edge in Arrow, ~500 MB)
    "task_edges": 20_000_000,
    # CC kernel input left as is; above it one large-star round first
    "cc_uncontracted_edges": 100_000,
    # jaccard Σdf² join rows the join beats the blocked kernel's fixed
    # costs under (the join takes join_rows < 20M)
    "jaccard_join_rows": 19_999_999,
    # k-core keep-set rows broadcast per peel round (~400 MB of longs)
    "kcore_broadcast_nodes": 50_000_000,
    # float64 bytes of a kmeans / PQ training pool for one-task Lloyd
    "kmeans_pool_bytes": 512 * 1024 * 1024,
    # BPE (word, freq) rows for the one-task greedy trainer
    "bpe_vocab": 2_000_000,
    # bitset kernel: one bucket-pair's float32 0/1 matrices in a task
    "bitset_group_bytes": 1 << 28,
    # bitset kernel: total matmul work n_docs² · n_bits
    "bitset_flops": 10**11,
}


def fits(name: str, stat: int) -> bool:
    """True when ``stat`` is within cap ``name``: take the cheap route."""
    return stat <= CAPS[name]


def single_task(df: DataFrame, kernel, schema: str) -> DataFrame:
    """``kernel(pdf) -> pdf`` over ALL of ``df`` inside ONE task.

    ``coalesce(1)`` funnels the partitions without an exchange (narrow
    dependency, partition order kept); the non-empty Arrow batches are
    concatenated into one frame.  Empty input yields no rows."""

    def run(batches):
        import pandas as pd

        keep_large_allocs_on_heap()
        parts = [b for b in batches if len(b)]
        if parts:
            yield kernel(pd.concat(parts, ignore_index=True))

    return df.coalesce(1).mapInPandas(run, schema)
