"""Sink + approximate-aggregate contract queries (SURVEY §2.B #55–#56).

#55 oracles the source aggregate the round-trip must reproduce; #56
(an HLL++ estimate no exact oracle can reproduce value-for-value) was
promoted from rows-only to oracle-checked in round 10 via the
sketch-then-verify pattern — the estimate stays out of the hashed
output and a 5·rsd bound against the exact count is what's graded.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..sources.writer import write_partitioned

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "_scratch")


def _scratch_dir(name: str, sf_dir: str) -> str:
    """Collision-free sink scratch dest (round-8 ADVICE): the dir name
    carries the sf basename AND the pid, so a timing sweep and a test
    session (or runs at different SFs) never interleave write/read on
    the same path.  Re-runs within one process overwrite their own
    dir, so accumulation is bounded by live processes; orphans are
    reaped by scripts/clean_scratch.py."""
    sf = os.path.basename(os.path.abspath(sf_dir))
    return os.path.join(_SCRATCH, f"{name}_{sf}_p{os.getpid()}")


@query(
    "sink_parquet_roundtrip",
    "sink",
    oracle="""
    SELECT l_returnflag, count(*) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
    description="Partitioned parquet sink + read-back; read-back counts "
    "must equal the source's (oracle aggregates the source directly).",
)
def sink_parquet_roundtrip(spark, sf_dir):
    """Write lineitem partitioned by l_returnflag, read it back, count per
    partition.  Exercises the write->list->prune->scan path; the
    read-back filter prunes to a single partition directory."""
    li = table(spark, sf_dir, "lineitem")
    dest = _scratch_dir("sink_parquet_roundtrip", sf_dir)
    write_partitioned(li, dest, ["l_returnflag"])
    # explicit schema: a zero-row source writes no partition dirs, so
    # schema inference over the empty sink would fail
    back = spark.read.schema(li.schema).parquet(dest)
    return (
        back.groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"))
        .orderBy("l_returnflag")
    )


@query(
    "approx_count_distinct",
    "approx agg",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(count(*) AS BIGINT) AS cnt,
           TRUE AS within_rsd
    FROM events GROUP BY event_type
    """,
    description="HLL++ distinct-user estimate per event type, "
    "sketch-then-verify: the estimate must land within 5x the "
    "configured rsd of the exact count (oracle-checked).",
)
def approx_count_distinct(spark, sf_dir):
    """approx_count_distinct — the sketch that replaces exact distinct at
    100 TB (mergeable across partitions, no expand shuffle).

    Promoted from rows-only to oracle-checked (round-9 VERDICT task 5)
    via the sketch-then-verify pattern shared with
    heavy_hitters_two_phase: the HLL++ value itself is engine-specific
    so it never enters the hashed output — instead the query emits the
    exact distinct count (oracle-able) plus a boolean asserting the
    sketch landed within 5·rsd of it.  rsd=0.02 is a standard error,
    so 5σ is a deterministic-in-practice bound (HLL++ is seed-fixed
    and deterministic in Spark); verified at all three fixture SFs.
    At 100 TB only the sketch branch runs — the exact branch here IS
    the verification harness, exactly what a pipeline owner runs on a
    sampled slice before trusting the sketch fleet-wide."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("_approx"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count("*").alias("cnt"),
    ).select(
        "event_type",
        "exact_users",
        "cnt",
        (F.abs(F.col("_approx") - F.col("exact_users"))
         <= 5 * 0.02 * F.col("exact_users")).alias("within_rsd"),
    )


@query(
    "sink_csv_json_roundtrip",
    "sink",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust
    FROM orders
    GROUP BY o_orderstatus
    """,
    description="CSV and JSON sinks + schema-pinned read-back; both "
    "read-backs must agree with each other and with the oracle's "
    "aggregate over the source.",
)
def sink_csv_json_roundtrip(spark, sf_dir):
    """Round-trip the orders keys through BOTH text sinks (CSV with
    header, JSON lines) and read each back with an explicit schema —
    never inference, which at 100 TB means a second full scan.  The
    result unions the two read-backs and asserts equality by
    construction: each (status, cnt, sum) group appears identically
    from both formats, so the distinct of the union collapses to the
    oracle's groups.  Text sinks are the reference's GCS output surface
    (A7/A8) for interchange; parquet stays the analytics format."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    csv_dest = _scratch_dir("sink_csv_roundtrip", sf_dir)
    json_dest = _scratch_dir("sink_json_roundtrip", sf_dir)
    o.write.mode("overwrite").option("header", True).csv(csv_dest)
    o.write.mode("overwrite").json(json_dest)
    schema = "o_orderkey bigint, o_custkey bigint, o_orderstatus string"
    back_csv = spark.read.schema(schema).option("header", True).csv(csv_dest)
    back_json = spark.read.schema(schema).json(json_dest)
    agg = lambda df: df.groupBy("o_orderstatus").agg(  # noqa: E731
        F.count("*").alias("cnt"), F.sum("o_custkey").alias("sum_cust")
    )
    return agg(back_csv).union(agg(back_json)).distinct()


@query(
    "sink_sorted_layout_pruned_scan",
    "sink/scale",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o_custkey) AS BIGINT) AS sum_cust
    FROM orders
    WHERE o_orderkey BETWEEN 2000 AND 2600
    """,
)
def sink_sorted_layout_pruned_scan(spark, sf_dir):
    """Sort-on-write layout round trip: rewrite orders range-sorted by
    o_orderkey (operators/scale.range_sorted), then run a selective key
    range scan over the sorted copy — parquet row-group min/max stats
    skip every file outside the range (pruning measured in
    tests/test_scale_ops.py::test_sorted_write_prunes_row_groups).
    Values must equal the same predicate on the unsorted source, which
    is what the oracle computes."""
    from ..operators.scale import range_sorted

    o = table(spark, sf_dir, "orders")
    dest = _scratch_dir("sorted_orders_layout", sf_dir)
    range_sorted(o, ["o_orderkey"], n_files=8) \
        .write.mode("overwrite").parquet(dest)
    back = spark.read.parquet(dest).filter(
        F.col("o_orderkey").between(2000, 2600)
    )
    return back.agg(
        F.count("*").alias("n_orders"),
        F.sum("o_custkey").cast("bigint").alias("sum_cust"),
    )


@query(
    "sink_zorder_layout_pruned_scan",
    "sink/scale",
    oracle="""
    SELECT 'by_custkey' AS probe,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_custkey BETWEEN 10 AND 40
    UNION ALL
    SELECT 'by_orderkey',
           CAST(count(*) AS BIGINT),
           CAST(sum(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey BETWEEN 2000 AND 2600
    """,
)
def sink_zorder_layout_pruned_scan(spark, sf_dir):
    """Z-order layout round trip: rewrite orders Morton-clustered on
    (custkey, orderkey), then probe the SAME copy with a selective
    predicate on EACH column — both scans skip row groups (pruning
    measured in tests/test_scale_ops.py::
    test_zorder_write_prunes_on_both_columns), and both must match the
    plain filters over the unsorted source."""
    from ..operators.scale import zordered

    o = table(spark, sf_dir, "orders")
    dest = _scratch_dir("zorder_orders_layout", sf_dir)
    # no non-NULL key (empty input): write the schema-bearing frame
    z = zordered(o, "o_custkey", "o_orderkey", n_files=8)
    (o if z is None else z).write.mode("overwrite").parquet(dest)
    back = spark.read.schema(o.schema).parquet(dest)
    a = back.filter(F.col("o_custkey").between(10, 40)).agg(
        F.lit("by_custkey").alias("probe"),
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
    )
    b = back.filter(F.col("o_orderkey").between(2000, 2600)).agg(
        F.lit("by_orderkey").alias("probe"),
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("key_sum"),
    )
    return a.union(b)


@query(
    "sink_orc_roundtrip",
    "sink",
    oracle="""
    SELECT l_linestatus,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(l_orderkey) AS BIGINT) AS sum_key
    FROM lineitem
    GROUP BY l_linestatus
    """,
    description="ORC sink + read-back; aggregates of the read-back must "
    "equal the oracle's aggregate over the parquet source.",
)
def sink_orc_roundtrip(spark, sf_dir):
    """Round-trip lineitem keys through the ORC columnar sink and read
    them back — the interchange format for Hive/Trino-adjacent
    warehouses, completing the sink matrix (parquet #55, CSV/JSON,
    ORC).  Read-back pins the schema (no inference scan); the aggregate
    proves value fidelity against the parquet-sourced oracle."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_linestatus"
    )
    dest = _scratch_dir("sink_orc_roundtrip", sf_dir)
    li.write.mode("overwrite").orc(dest)
    schema = "l_orderkey bigint, l_linenumber bigint, l_linestatus string"
    back = spark.read.schema(schema).orc(dest)
    return back.groupBy("l_linestatus").agg(
        F.count("*").alias("cnt"),
        F.sum("l_orderkey").alias("sum_key"),
    )


@query(
    "sink_entity_writer_roundtrip",
    "sink",
    oracle="""
    SELECT o_orderstatus AS kind_payload_status,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_key
    FROM orders
    GROUP BY o_orderstatus
    """,
    description="Custom Python Data Source WRITER round-trip: "
    "stage-then-commit entity sink, JSON-lines read-back aggregates "
    "must equal the oracle's aggregate over the source.",
)
def sink_entity_writer_roundtrip(spark, sf_dir):
    """Round-trip orders through the custom entity WRITER
    (sources/entity_source.py EntityWriter): each task stages JSON-lines,
    the driver commit publishes atomically — the reference's
    mutation-pool PUT path (A7/A8) as a first-class Spark sink.  The
    read-back is schema-pinned JSON; equality with the source-side
    oracle proves no row was lost, duplicated, or mangled by the
    two-phase commit."""
    import shutil

    from ..sources.entity_source import register

    register(spark)
    o = table(spark, sf_dir, "orders")
    dest = _scratch_dir("sink_entity_writer", sf_dir)
    shutil.rmtree(dest, ignore_errors=True)
    (
        o.selectExpr(
            "o_orderkey AS __key__",
            "'order' AS kind",
            "'default' AS namespace",
            "o_orderstatus AS payload",
        )
        .write.format("datastore_entity")
        .option("path", dest)
        .mode("append")
        .save()
    )
    back = spark.read.schema(
        "__key__ bigint, kind string, namespace string, payload string"
    ).json(os.path.join(dest, "*.jsonl"))
    return back.groupBy(
        F.col("payload").alias("kind_payload_status")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum("__key__").alias("sum_key"),
    )


@query(
    "sink_hive_partitioned_pruned_scan",
    "sink/scale",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(user_id) AS BIGINT) AS sum_user
    FROM events
    WHERE event_type IN ('click', 'view')
      AND CAST(ts AS DATE) BETWEEN DATE '2024-01-03' AND DATE '2024-01-05'
    GROUP BY 1
    """,
)
def sink_hive_partitioned_pruned_scan(spark, sf_dir):
    """Hive-style partitioned layout round trip: rewrite events
    partitioned by (event_type, day) — the canonical 100 TB fact-table
    layout — then probe the copy with predicates on BOTH partition
    levels.  Directory-level partition pruning means the selective scan
    lists and reads ONLY the 2 types x 3 days = 6 matching partition
    dirs out of ~150, independent of total data volume; the plan's
    ``PartitionFilters`` (vs the row-group stats pruning of
    ``sink_sorted_layout_pruned_scan``, which still lists every file)
    is asserted in tests/test_plans.py.  Values must match the same
    predicate over the unpartitioned source, which is what the oracle
    computes."""
    e = table(spark, sf_dir, "events")
    dest = _scratch_dir("hive_partitioned_events", sf_dir)
    write_partitioned(
        e.select(
            "event_id", "user_id", "value", "event_type",
            F.to_date("ts_us").alias("day"),
        ),
        dest,
        ["event_type", "day"],
    )
    # explicit schema: a zero-row source writes no partition dirs, so
    # schema inference over the empty sink would fail
    back = spark.read.schema(
        "event_id BIGINT, user_id BIGINT, value DOUBLE, "
        "event_type STRING, day DATE"
    ).parquet(dest).filter(
        F.col("event_type").isin("click", "view")
        & F.col("day").between("2024-01-03", "2024-01-05")
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("user_id").cast("bigint").alias("sum_user"),
    )


@query(
    "sink_compaction_small_files",
    "sink/scale",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def sink_compaction_small_files(spark, sf_dir):
    """Small-file compaction — the #1 daily lakehouse maintenance job:
    a fragmented table (here: events deliberately written as 64
    splinter files, the residue of streaming/per-batch appends) is
    rewritten into a handful of right-sized files, and the compacted
    copy must be row-for-row identical to the source — which is what
    the oracle checks (per-type counts + distinct users over the
    ORIGINAL table; hash-equal means the rewrite lost and invented
    nothing).

    Scale shape: compaction is a read + ``repartition`` + write — one
    shuffle sized by target file count (at 100 TB: per-partition
    coalesce driven by bytes, AQE coalescing the read splits).  The
    file-count contract (64 → ≤ 8 data files) is asserted in
    tests/test_plans.py so a silent no-op rewrite fails; the metadata
    win is the point — a NameNode/listing pass over 64x fewer
    objects."""
    e = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    frag = _scratch_dir("sink_compact_fragmented", sf_dir)
    compact = _scratch_dir("sink_compact_done", sf_dir)
    # fragment: the splintered state a streaming sink leaves behind
    e.repartition(64).write.mode("overwrite").parquet(frag)
    back = spark.read.schema(e.schema).parquet(frag)
    back.repartition(4).write.mode("overwrite").parquet(compact)
    compacted = spark.read.schema(e.schema).parquet(compact)
    return compacted.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        F.countDistinct("user_id").alias("n_users"),
    )


@query(
    "sink_schema_evolution_mergeread",
    "sink",
    oracle="""
    WITH unioned AS (
        SELECT doc_id, text, NULL AS lang, CAST(NULL AS BIGINT) AS n_chars
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, NULL AS text, lang, n_chars
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE text IS NULL) AS BIGINT)
               AS n_null_text,
           CAST(count(*) FILTER (WHERE lang IS NULL) AS BIGINT)
               AS n_null_lang,
           CAST(sum(COALESCE(n_chars, 0)) AS BIGINT) AS sum_chars
    FROM unioned
    """,
)
def sink_schema_evolution_mergeread(spark, sf_dir):
    """Schema evolution at the sink: two parquet batches written with
    DIFFERENT schemas (v1: doc_id+text; v2: doc_id+lang+n_chars) into
    one dataset directory, read back with ``mergeSchema=true`` — the
    unified schema must contain every column with NULL-fill where a
    batch lacks it, the contract every long-lived dataset directory
    depends on as its writers evolve.  The oracle restates the
    union-by-name semantics directly over the source table (the
    written batches derive deterministically from ``documents``).  At
    100 TB schema merging is a footer-only planning step; the data
    files are never rewritten."""
    d = table(spark, sf_dir, "documents")
    dest = _scratch_dir("sink_schema_evolution", sf_dir)
    v1 = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
    v2 = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars"
    )
    v1.write.mode("overwrite").parquet(os.path.join(dest, "batch=v1"))
    v2.write.mode("overwrite").parquet(os.path.join(dest, "batch=v2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(dest, "batch=v1"), os.path.join(dest, "batch=v2")
    )
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count(F.when(F.col("text").isNull(), 1))
        .cast("long")
        .alias("n_null_text"),
        F.count(F.when(F.col("lang").isNull(), 1))
        .cast("long")
        .alias("n_null_lang"),
        F.sum(F.coalesce(F.col("n_chars"), F.lit(0)))
        .cast("long")
        .alias("sum_chars"),
    )


@query(
    "csv_malformed_quarantine",
    "sink/etl",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE doc_id % 10 = 0) AS BIGINT)
               AS n_quarantined,
           CAST(count(*) FILTER (WHERE doc_id % 10 <> 0) AS BIGINT)
               AS n_clean,
           CAST(sum(CASE WHEN doc_id % 10 <> 0 THEN n_chars END)
                AS BIGINT) AS clean_chars
    FROM documents
    """,
)
def csv_malformed_quarantine(spark, sf_dir):
    """Malformed-row quarantine — the ingest-reality path every ETL
    needs: a raw CSV with deliberately broken lines (every 10th row
    carries an unterminated quote) is read in PERMISSIVE mode with an
    explicit ``_corrupt_record`` column, clean rows parse, broken
    rows route to quarantine, and the counts must reconcile exactly
    with the generator's rule (the oracle restates the rule over the
    source table).  At 100 TB this is the schema-on-read contract:
    no bad line aborts the job, none is silently dropped, and the
    quarantine column is a first-class output for replay."""
    import os as _os

    d = table(spark, sf_dir, "documents")
    dest = _scratch_dir("csv_malformed", sf_dir)
    lines = d.select(
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(F.col("doc_id").cast("string"), F.lit(',"broken')),
        )
        .otherwise(
            F.concat_ws(
                ",",
                F.col("doc_id").cast("string"),
                F.col("n_chars").cast("string"),
            )
        )
        .alias("value")
    )
    lines.write.mode("overwrite").text(dest)
    schema = "doc_id LONG, n_chars LONG, _corrupt_record STRING"
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(dest)
    )
    # a parsed row is clean iff the corrupt column is NULL
    back = back.cache()
    return back.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1))
        .cast("long")
        .alias("n_quarantined"),
        F.count(F.when(F.col("_corrupt_record").isNull(), 1))
        .cast("long")
        .alias("n_clean"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_chars"))
        )
        .cast("long")
        .alias("clean_chars"),
    )
