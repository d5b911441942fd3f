"""Scale-engineering operators: bucketed co-located joins and skew
salting (SCALE.md 'Joins'/'Aggregations').

These are the two levers the 100 TB plan needs that are *choices*, not
defaults:

- **Bucketing** removes the shuffle from every future join/aggregation
  on the bucket key: both sides pre-hash-partitioned into the same N
  buckets at write time, so SortMergeJoin reads co-located buckets with
  NO Exchange (asserted in tests/test_scale_ops.py).  This is the
  at-rest analogue of the reference's scatter-sharded keyspace — the
  partitioning is decided once, at write time, and every reader
  inherits it.
- **Salting** splits a pathologically hot key across ``n_salts``
  sub-keys.  Aggregation: two-phase (partial by salted key, final by
  real key) — works for any decomposable aggregate.  Join: the
  fact side gets a deterministic per-row salt; the dim side is
  exploded ×``n_salts`` so every (key, salt) pair still meets.  AQE's
  skew-join split handles moderate skew automatically; salting is for
  the single-key hot spot AQE cannot split (one key > one partition).

Everything here is deterministic (hash-derived salts, never rand()) so
results stay oracle-comparable and retries stay idempotent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    num_buckets: int,
    sort_key: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) by key.

    Subsequent equi-joins / groupBys on ``bucket_key`` between tables
    bucketed with the SAME bucket count plan with no Exchange; adding
    ``sort_key == bucket_key`` also removes the Sort under SMJ."""
    writer = df.write.bucketBy(num_buckets, bucket_key)
    if sort_key is not None:
        writer = writer.sortBy(sort_key)
    writer.mode(mode).saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str,
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed saved tables on their bucket key — reads
    co-located buckets, shuffle-free."""
    return spark.table(left_table).join(spark.table(right_table), key, how)


def _salt(col: Column, n_salts: int) -> Column:
    """Deterministic salt in [0, n_salts): hash of the value itself —
    rows of the SAME hot key spread evenly, and retries recompute the
    same salt (rand() would break idempotent task retry)."""
    return F.pmod(F.xxhash64(col), F.lit(n_salts))


def salted_groupby_sum(
    df: DataFrame,
    group_key: str,
    n_salts: int,
    sum_cols: list[str],
    unique_col: str,
) -> DataFrame:
    """Two-phase skew-safe aggregation: partial sum/count by
    (key, salt), final sum by key.

    ``unique_col`` feeds the salt so the hot key's rows spread across
    ``n_salts`` reducers in phase 1; phase 2 merges ``n_salts`` rows
    per key — negligible.  Returns one row per key with ``sum_<c>``
    and ``cnt`` columns, bit-identical to a plain groupBy (sums are
    reassociated, which is exact for integers/decimals; for doubles
    expect last-ulp drift, same as any shuffle-order change)."""
    partial = (
        df.withColumn("__salt", _salt(F.col(unique_col), n_salts))
        .groupBy(group_key, "__salt")
        .agg(
            F.count("*").alias("__cnt"),
            *[F.sum(c).alias(f"__sum_{c}") for c in sum_cols],
        )
    )
    return partial.groupBy(group_key).agg(
        F.sum("__cnt").alias("cnt"),
        *[F.sum(f"__sum_{c}").alias(f"sum_{c}") for c in sum_cols],
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int,
    fact_unique_col: str,
) -> DataFrame:
    """Skew-safe equi-join: fact rows get a deterministic salt; the dim
    is exploded ×``n_salts`` so every (key, salt) partition finds its
    dim row.  Costs ``n_salts``× the dim (fine — dims are small; that
    is why the key is hot), buys even reducer sizes on the fact."""
    salted_fact = fact.withColumn(
        "__salt", _salt(F.col(fact_unique_col), n_salts)
    )
    exploded_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("__salt", F.col("__salt").cast("bigint"))
    joined = salted_fact.join(exploded_dim, [key, "__salt"])
    return joined.drop("__salt")


def range_sorted(df: DataFrame, sort_cols: list[str],
                 n_files: int = 8) -> DataFrame:
    """The range-sort layout: range-partition ``df`` into ``n_files``
    partitions on ``sort_cols`` (sampled range boundaries, Spark's
    global-sort machinery) and sort within each, so every file written
    from it covers a disjoint, tight key range and parquet row-group
    min/max statistics let later selective scans skip whole files —
    the at-rest locality lever for the 100 TB predicate-heavy workload
    (the read-side complement of :func:`write_bucketed`, which
    optimizes joins instead).

    Measured at sf0.01 (tests/test_scale_ops.py): a 500-key range
    predicate scans 1 879 rows from the sorted layout vs all 15 000
    from a shuffled layout.  Caveat: Spark does not evaluate parquet
    row-group stats for timestamp_ntz predicates — sort on a
    numeric/date key (epoch day/int key) for prunable layouts."""
    return df.repartitionByRange(n_files, *sort_cols) \
        .sortWithinPartitions(*sort_cols)


def morton_code(a: Column, b: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` of two non-negative integer columns
    into a Z-order (Morton) key, entirely with JVM bit expressions.
    Locality in the code implies locality in BOTH inputs, which is
    what makes a Z-sorted layout prunable on either column."""
    code = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        bbit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        code = (
            code
            + F.shiftleft(abit, 2 * i)
            + F.shiftleft(bbit, 2 * i + 1)
        )
    return code


def zordered(df: DataFrame, col_a: str, col_b: str, n_files: int = 8,
             bits: int = 8) -> DataFrame | None:
    """The Z-order layout: :func:`range_sorted` on the Morton
    interleave of TWO columns, so row-group min/max statistics prune
    selective scans on EITHER column — the multi-dimensional
    generalization of a one-key sort, and the technique behind
    Delta/Iceberg Z-ORDER clustering, expressed as a plain sort key.
    Returns None when either column has no non-NULL value (nothing to
    cluster on).

    Both columns are min/max-scaled to the ``bits``-bit domain first
    (one tiny stats aggregate, the analogue of Delta's range-boundary
    sampling): interleaving RAW values lets the wider column's high
    bits dominate the sort and the narrow column gets no locality at
    all — found empirically with custkey (8-bit) vs orderkey
    (14-bit)."""
    stats = df.agg(
        F.min(col_a).alias("a_min"),
        F.max(col_a).alias("a_max"),
        F.min(col_b).alias("b_min"),
        F.max(col_b).alias("b_max"),
    ).first()
    if stats.a_min is None or stats.b_min is None:
        return None
    domain = (1 << bits) - 1

    def scaled(col: str, lo, hi) -> Column:
        span = max(int(hi) - int(lo), 1)
        return F.floor(
            (F.col(col).cast("double") - float(lo)) / span * domain
        ).cast("long")

    z = morton_code(
        scaled(col_a, stats.a_min, stats.a_max),
        scaled(col_b, stats.b_min, stats.b_max),
        bits,
    )
    return range_sorted(df.withColumn("__z", z), ["__z"], n_files) \
        .drop("__z")


def band_equi_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    band_units: int = 1,
    bucket: str = "day",
) -> DataFrame:
    """Band (interval) join planned as an EQUI join: matches every
    left/right pair with
    ``right_key ∈ [left_key, left_key + band_units × bucket]``.

    Any such pair shares a ``bucket``-granularity timestamp bucket, so
    the left side explodes into its ``band_units + 1`` covered buckets,
    the right side carries one bucket (``date_trunc(bucket, key)``),
    and the join is a hash/sort-merge on the bucket followed by the
    exact band predicate — the shape that replaces the O(n·m)
    BroadcastNestedLoopJoin a naive theta join plans (the
    ``join_theta_range`` rewrite, generalized).  Each qualifying pair
    matches exactly one right-bucket value, so no dedup is needed;
    column names must be disjoint across the two sides."""
    lk, rk = F.col(left_key), F.col(right_key)
    unit = bucket.upper()
    lb = left.withColumn(
        "__bucket",
        F.explode(
            F.array(*[
                F.date_trunc(bucket, lk) + F.expr(f"INTERVAL {i} {unit}")
                for i in range(band_units + 1)
            ])
        ),
    )
    rb = right.withColumn("__bucket", F.date_trunc(bucket, rk))
    return (
        lb.join(rb, "__bucket")
        .filter((rk >= lk) & (rk <= lk + F.expr(f"INTERVAL {band_units} {unit}")))
        .drop("__bucket")
    )


# ---------------------------------------------------------------------------
# Two-pass global ordering (range-partition + per-partition offsets)
# ---------------------------------------------------------------------------
# A window with a global ORDER BY and no PARTITION BY funnels the whole
# dataset through ONE task — the classic 100 TB cliff (round-4 VERDICT
# scale watch-list).  The standard fix: range-partition on the order
# keys so each task owns a disjoint, globally-ordered slice, run the
# window WITHIN each slice, then add the (tiny, one-row-per-partition)
# cross-slice offsets computed from per-partition aggregates.  Only the
# offset table — |num_partitions| rows — ever crosses a global window.
#
# ``num_partitions`` is passed explicitly to ``repartitionByRange`` so
# AQE never coalesces it (coalescing could renumber
# spark_partition_id between the data branch and the offsets branch).
#
# The keyed frame is PERSISTED (round-5 ADVICE, medium): the data
# branch and the offsets branch must observe the SAME evaluation of
# the range exchange — repartitionByRange samples its bounds with a
# per-RDD seed, so two independent evaluations over a large or
# shuffle-order-nondeterministic input can pick different bounds and
# silently misalign the offsets.  ReuseExchange only saves us when the
# two branches canonicalize identically, and column pruning routinely
# breaks that (observed: window_ntile_first_last planned TWO evaluated
# range exchanges because the offsets branch pruned payload columns
# below its exchange).  persist(MEMORY_AND_DISK) pins one physical RDD
# shared by both branches; lineage is kept, so an evicted/lost block
# recomputes through the SAME shuffle id and the SAME bounds (a
# localCheckpoint would truncate lineage and turn block loss into job
# failure).  Cost: one cache write of the keyed data — the price of a
# correct distributed prefix sum; classic two-pass MapReduce pays the
# same materialization between passes.


def _range_keyed(df: DataFrame, order_cols: list[Column], n: int) -> DataFrame:
    from pyspark import StorageLevel

    return (
        df.repartitionByRange(n, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def ranged_running_sum(
    df: DataFrame,
    order_cols: list[Column],
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
    exclusive: bool = False,
) -> DataFrame:
    """Global running sum of ``value_col`` over a total order, scalably.

    Equivalent to ``sum(value) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)`` — or, with ``exclusive=True``, the exclusive prefix
    sum ending at the PREVIOUS row (NULL-as-0 on each partition's first
    row) — but never materializes a single global partition.
    ``order_cols`` should be a total order (break ties on a unique key)
    for deterministic results.  Exact for decimal/integer values
    (addition reassociates exactly); for doubles the result may differ
    from the single-partition plan in the last bit.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    keyed = _range_keyed(df, order_cols, n)

    w_in = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(
            Window.unboundedPreceding, -1 if exclusive else Window.currentRow
        )
    )
    # offsets: one row per range partition; the global window here is
    # over <= num_partitions rows, which is the whole point.
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        keyed.groupBy("__pid")
        .agg(F.sum(value_col).alias("__psum"))
        .withColumn("__offset", F.sum("__psum").over(w_off))
        .select("__pid", "__offset")
    )
    win_sum = F.sum(value_col).over(w_in)
    if exclusive:
        # empty frame on each partition's first row -> NULL; the
        # exclusive prefix sum of the very first global row is 0
        win_sum = F.coalesce(win_sum, F.lit(0))
    return (
        keyed.join(F.broadcast(offsets), "__pid")
        .withColumn(
            out_col,
            win_sum + F.coalesce(F.col("__offset"), F.lit(0)),
        )
        .drop("__pid", "__offset")
    )


def ranged_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Global ``row_number() OVER (ORDER BY order_cols)``, scalably —
    per-partition row_number plus broadcast cumulative-count offsets."""
    from pyspark.sql import Window

    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    keyed = _range_keyed(df, order_cols, n)

    w_in = Window.partitionBy("__pid").orderBy(*order_cols)
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        keyed.groupBy("__pid")
        .agg(F.count("*").alias("__pcnt"))
        .withColumn(
            "__offset", F.coalesce(F.sum("__pcnt").over(w_off), F.lit(0))
        )
        .select("__pid", "__offset")
    )
    return (
        keyed.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.row_number().over(w_in) + F.col("__offset"))
        .drop("__pid", "__offset")
    )


def _long_floor_div(a: Column, b: Column) -> Column:
    """Exact ``a div b`` for non-negative longs at ANY magnitude.

    ``(a / b).cast("long")`` routes through double division, which is
    inexact once a exceeds 2^53 (round-5 ADVICE).  Instead: ``pmod``
    yields the exact remainder with pure integer arithmetic, and the
    remaining ``(a - r) / b`` divides an exact multiple — done in
    decimal(38,0) so no value ever touches a double."""
    r = F.pmod(a, b)
    return (
        (a - r).cast("decimal(38,0)") / b.cast("decimal(38,0)")
    ).cast("long")


def ntile_from_row_number(rn: Column, n_rows: Column, k: int) -> Column:
    """SQL ``ntile(k)`` computed from a global row number and the total
    row count — the scalable replacement for ``ntile(k) OVER (ORDER BY
    ...)``: combine with :func:`ranged_row_number` so no single task
    sees the whole order.

    ntile semantics: bucket sizes differ by at most one, larger buckets
    first — with ``q = n div k`` and ``r = n mod k``, buckets ``1..r``
    hold ``q+1`` rows.  Integer-exact at any scale: all division goes
    through :func:`_long_floor_div` (pmod + decimal), never a double.
    """
    long_cast = lambda c: c.cast("long")  # noqa: E731
    q = _long_floor_div(long_cast(n_rows), F.lit(k).cast("long"))
    r = long_cast(n_rows) - q * k
    big_span = r * (q + 1)  # rows covered by the size-(q+1) buckets
    ceil_div = lambda a, b: _long_floor_div(  # noqa: E731
        a + b - F.lit(1), b
    )
    return (
        F.when(n_rows < F.lit(k), rn)  # degenerate: fewer rows than tiles
        .when(rn <= big_span, ceil_div(long_cast(rn), q + 1))
        .otherwise(r + ceil_div(long_cast(rn) - big_span, q))
        .cast("int")
    )


#: Fixed-length interval units in microseconds (for grid floor-division).
_FIXED_UNIT_US = {
    "MICROSECOND": 1,
    "MILLISECOND": 1_000,
    "SECOND": 1_000_000,
    "MINUTE": 60_000_000,
    "HOUR": 3_600_000_000,
    "DAY": 86_400_000_000,
    "WEEK": 7 * 86_400_000_000,
}


def _grid_step(step: str):
    """Parse ``step`` into (is_timestamp_mode, step_size).  Timestamp
    mode returns the step in microseconds; numeric mode the integer
    step.  Variable-length units (MONTH/YEAR) cannot be floor-divided
    onto a fixed grid — fail loudly instead of silently dropping
    pairs."""
    s = step.strip()
    if s.upper().startswith("INTERVAL"):
        parts = s.split()
        if len(parts) != 3:
            raise ValueError(f"interval_overlap_join: unparsable step {step!r}")
        n, unit = int(parts[1]), parts[2].upper().rstrip("S")
        if unit not in _FIXED_UNIT_US:
            raise ValueError(
                f"interval_overlap_join: step unit {unit} is not fixed-length; "
                "use MICROSECOND..WEEK (MONTH/YEAR have no fixed grid)"
            )
        size = n * _FIXED_UNIT_US[unit]
    else:
        size = int(s)
    # a zero/negative step parses fine but fails deep inside the plan
    # (pmod-by-zero / empty sequence) — fail loudly here instead
    # (round-7 ADVICE)
    if size <= 0:
        raise ValueError(
            f"interval_overlap_join: step {step!r} must be positive"
        )
    return s.upper().startswith("INTERVAL"), size


def interval_overlap_join(
    lhs: DataFrame,
    rhs: DataFrame,
    s1: str = "s1",
    e1: str = "e1",
    s2: str = "s2",
    e2: str = "e2",
    step: str = "INTERVAL 1 DAY",
) -> DataFrame:
    """Overlap join of two interval relations as an EQUI join.

    Intervals are inclusive ``[s, e]`` (timestamps with
    ``step='INTERVAL 1 DAY'``, or integers with ``step='1'``); a row
    pair qualifies iff the intervals intersect.  Endpoints are
    normalized onto a shared grid by floor-division
    (``floor(unix_micros(x) / step_us)``), so arbitrary phase —
    endpoints that are NOT step-aligned multiples — is handled
    correctly; earlier revisions required phase-aligned endpoints and
    silently dropped pairs otherwise (round-6 ADVICE).  Each interval
    replicates to its covered grid cells (``sequence`` + explode,
    fan-out ≈ interval length / step) and the join shuffles on the
    cell index — never a BroadcastNestedLoopJoin.  A pair
    intersecting k shared cells would match k times, so it is emitted
    only in its RESPONSIBILITY cell ``greatest(cell(s1), cell(s2))``:
    both intervals provably cover it (cell(s2) <= cell(e1) whenever
    s2 <= e1, and vice versa) — exactly-once with no post-join
    ``distinct`` (a second full shuffle of the pair stream).  At
    100 TB choose the grid ~median interval length so fan-out stays
    O(1) per row.  Column names must be disjoint apart from the four
    endpoint columns."""
    ts_mode, step_size = _grid_step(step)

    def cell(col: str):
        # Grid-aligned value via pmod — pure int64 arithmetic (exact at
        # any epoch magnitude, floor semantics for negatives), where a
        # double floor(x/step) could round at cell boundaries.
        x = (
            F.unix_micros(F.col(col).cast("timestamp"))
            if ts_mode
            else F.col(col).cast("long")
        )
        return x - F.pmod(x, F.lit(step_size))

    stepped = F.lit(step_size)
    l = lhs.withColumn(
        "__cell", F.explode(F.sequence(cell(s1), cell(e1), stepped))
    )
    r = rhs.withColumn(
        "__cell", F.explode(F.sequence(cell(s2), cell(e2), stepped))
    )
    return (
        l.join(r, "__cell")
        .filter(
            (F.col(s1) <= F.col(e2))
            & (F.col(s2) <= F.col(e1))
            & (F.col("__cell") == F.greatest(cell(s1), cell(s2)))
        )
        .drop("__cell")
    )
