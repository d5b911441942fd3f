"""Scale-operator tests: bucketed joins plan shuffle-free and match the
unbucketed result; salted aggregation/join match their plain twins."""

from __future__ import annotations

from pyspark.sql import functions as F

from datastore_mapper_spark.catalog import table
from datastore_mapper_spark.operators.scale import (
    bucketed_join,
    salted_groupby_sum,
    salted_join,
    write_bucketed,
)


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_is_shuffle_free_and_correct(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(o, "b_orders", "o_orderkey", 8, sort_key="o_orderkey")
    write_bucketed(li, "b_lineitem", "o_orderkey", 8, sort_key="o_orderkey")
    # At sf0.01 the planner would broadcast these tiny tables; disable
    # that to exercise the fact-fact (SMJ) shape bucketing exists for.
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = _physical_plan(joined)
        assert "Exchange" not in plan  # co-located buckets, no shuffle
        expected = li.join(o, "o_orderkey").count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_salted_groupby_sum_matches_plain(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    salted = {
        (r["l_returnflag"], r["cnt"]): round(r["sum_l_quantity"], 4)
        for r in salted_groupby_sum(
            li, "l_returnflag", 16, ["l_quantity"], "l_orderkey"
        ).collect()
    }
    plain = {
        (r["l_returnflag"], r["cnt"]): round(r["sum_l_quantity"], 4)
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("cnt"), F.sum("l_quantity").alias("sum_l_quantity"))
        .collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    fact = li.withColumnRenamed("l_partkey", "p_partkey")
    salted = (
        salted_join(fact, p, "p_partkey", 8, "l_orderkey")
        .groupBy("p_brand")
        .agg(F.count("*").alias("cnt"))
    )
    plain = fact.join(p, "p_partkey").groupBy("p_brand").agg(
        F.count("*").alias("cnt")
    )
    assert {(r.p_brand, r.cnt) for r in salted.collect()} == {
        (r.p_brand, r.cnt) for r in plain.collect()
    }


def test_salt_is_deterministic(spark, sf_dir):
    li = table(spark, sf_dir, "lineitem")
    a = salted_groupby_sum(li, "l_returnflag", 16, ["l_quantity"], "l_orderkey")
    assert a.collect() == a.collect()  # same salts on re-execution


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew handling — the runtime complement to manual salting
    (SCALE.md 'Joins'): one hot key holding ~10x the data is split
    across tasks by AQE, visible as SortMergeJoin(skew=true) in the
    FINAL adaptive plan.  Must inspect the dataset's own
    queryExecution after collect(): count() executes a different
    plan and leaves this one isFinalPlan=false."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # high-entropy payload so shuffle compression can't hide the skew
        payload = F.concat(
            F.md5(F.col("id").cast("string")),
            F.md5((F.col("id") + 1).cast("string")),
        )
        big = spark.range(300_000).select(
            F.lit(0).alias("k"), payload.alias("payload")
        ).union(
            spark.range(30_000).select(
                (F.col("id") % 3000 + 1).alias("k"), payload.alias("payload")
            )
        )
        dim = spark.range(3001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = big.join(dim, "k").select(F.substring("payload", 1, 4).alias("p4"))
        assert len(j.collect()) == 330_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    """The HLL++ estimate must sit within ~3x the configured 2% rsd of
    the exact distinct count for every group — the accuracy contract
    that justifies replacing exact distinct at 100 TB."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.catalog import table

    e = table(spark, sf_dir, "events")
    joined = (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert joined
    for r in joined:
        assert abs(r.approx - r.exact) <= max(3, 0.06 * r.exact), (
            r.event_type, r.approx, r.exact
        )


def test_approx_percentile_within_accuracy(spark, sf_dir):
    """approx_percentile's rank error is bounded by 1/accuracy: with
    accuracy=10000 on the order-price column the estimate must land
    within a tight quantile band of the exact percentile."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.catalog import table

    o = table(spark, sf_dir, "orders")
    row = o.agg(
        F.percentile("o_totalprice", 0.5).alias("exact"),
        F.percentile_approx("o_totalprice", 0.5, 10000).alias("approx"),
        F.percentile("o_totalprice", 0.501).alias("hi"),
        F.percentile("o_totalprice", 0.499).alias("lo"),
    ).first()
    assert row.lo <= row.approx <= row.hi or row.approx == row.exact


def test_sorted_write_prunes_row_groups(spark, sf_dir, tmp_path):
    """Sort-on-write layout: a selective range predicate must scan an
    order of magnitude fewer rows than the same predicate over a
    shuffled layout (parquet row-group min/max skipping)."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.catalog import table
    from datastore_mapper_spark.operators.scale import range_sorted
    from datastore_mapper_spark.plans.explain import scan_output_rows

    o = table(spark, sf_dir, "orders")
    sorted_path = str(tmp_path / "sorted")
    shuffled_path = str(tmp_path / "shuffled")
    range_sorted(o, ["o_orderkey"], n_files=8).write.parquet(sorted_path)
    o.repartition(8).write.mode("overwrite").parquet(shuffled_path)

    pred = F.col("o_orderkey").between(100, 150)
    pruned = spark.read.parquet(sorted_path).filter(pred)
    full = spark.read.parquet(shuffled_path).filter(pred)
    r1, r2 = pruned.collect(), full.collect()
    assert {r.o_orderkey for r in r1} == {r.o_orderkey for r in r2}
    total = o.count()
    assert scan_output_rows(full) == total
    assert scan_output_rows(pruned) * 4 < total


def test_zorder_write_prunes_on_both_columns(spark, sf_dir, tmp_path):
    """A Z-ordered layout must beat a shuffled layout for selective
    predicates on EITHER interleaved column, where a single-key sorted
    layout only prunes its own key."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.catalog import table
    from datastore_mapper_spark.operators.scale import (
        range_sorted,
        zordered,
    )
    from datastore_mapper_spark.plans.explain import scan_output_rows

    o = table(spark, sf_dir, "orders")
    z_path, s_path = str(tmp_path / "z"), str(tmp_path / "s")
    zordered(o, "o_custkey", "o_orderkey", n_files=8).write.parquet(z_path)
    range_sorted(o, ["o_orderkey"], n_files=8).write.parquet(s_path)
    total = o.count()

    pred_b = F.col("o_orderkey").between(100, 150)
    zb = spark.read.parquet(z_path).filter(pred_b)
    sb = spark.read.parquet(s_path).filter(pred_b)
    rz, rs = zb.collect(), sb.collect()
    assert {r.o_orderkey for r in rz} == {r.o_orderkey for r in rs}
    # orderkey-sorted layout prunes its own key best; z-order must
    # still beat a full scan on that same key
    assert scan_output_rows(zb) < total

    pred_a = F.col("o_custkey").between(10, 40)
    za = spark.read.parquet(z_path).filter(pred_a)
    sa = spark.read.parquet(s_path).filter(pred_a)
    assert {r.o_orderkey for r in za.collect()} == {
        r.o_orderkey for r in sa.collect()
    }
    # ...and on the OTHER column, where the single-key layout cannot
    # prune at all, z-order must scan strictly less
    assert scan_output_rows(sa) == total
    assert scan_output_rows(za) < total


def test_band_equi_join_matches_naive_theta(spark, sf_dir):
    """The generalized band_equi_join must produce exactly the pairs of
    the naive non-equi formulation, while planning an equi join."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.catalog import table
    from datastore_mapper_spark.operators.scale import band_equi_join
    from datastore_mapper_spark.plans.explain import formatted

    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    left = o.select(
        F.col("o_orderkey").alias("k1"), F.col("o_orderdate").alias("t1")
    )
    right = o.select(
        F.col("o_orderkey").alias("k2"), F.col("o_orderdate").alias("t2")
    )
    got = band_equi_join(left, right, "t1", "t2", band_units=2, bucket="day")
    got_pairs = {(r.k1, r.k2) for r in got.collect()}
    naive = left.join(
        right,
        (F.col("t2") >= F.col("t1"))
        & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 2 DAY")),
    )
    naive_pairs = {(r.k1, r.k2) for r in naive.collect()}
    assert got_pairs == naive_pairs and len(got_pairs) > 0
    plan = formatted(got)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_injects_on_selective_join(spark, sf_dir):
    """Spark's runtime Bloom-filter join pruning (a semi-join reduction
    the optimizer injects): with a selective build side, the probe-side
    scan gains a might_contain(bloom_filter_agg(...)) predicate so the
    big side drops non-joining rows BEFORE the shuffle.  Default
    thresholds (10 MB build / 10 GB probe scan) only trip at real
    scale, so the test floors them for the fixture, then restores."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.catalog import table
    from datastore_mapper_spark.plans.explain import formatted

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, sf_dir, "lineitem")
        o = table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 450000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = formatted(j)
        assert "might_contain" in plan.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_rolling_wau_hll_within_error(spark, sf_dir):
    """The HLL rolling-WAU estimate must sit within ~5% of the exact
    rolling distinct count for every day (default lgConfigK=12 gives
    ~1.6% relative standard error; 5% ≈ 3 sigma).  Since its round-10
    promotion the query carries the verification itself (sketch-then-
    verify): assert every within_bound is true AND the embedded exact
    column matches the independent exact query."""
    from datastore_mapper_spark.registry import all_queries

    specs = all_queries()
    exact = {
        r.day: r.wau
        for r in specs["rolling_weekly_active_users"].fn(spark, sf_dir).collect()
    }
    got = specs["rolling_wau_hll_sketch"].fn(spark, sf_dir).collect()
    assert {r.day for r in got} == exact.keys()
    for r in got:
        assert r.within_bound, (r.day, r.wau_exact)
        assert r.wau_exact == exact[r.day], (r.day, r.wau_exact)


def test_freqitems_contains_true_heavy_hitters(spark, sf_dir):
    """df.stat.freqItems's guarantee: every value with frequency above
    the support threshold appears in the result (false positives
    allowed, false negatives not) — the sketch to shortlist heavy
    hitters before an exact count at 100 TB."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.catalog import table

    e = table(spark, sf_dir, "events")
    support = 0.1
    total = e.count()
    truth = {
        r.event_type
        for r in e.groupBy("event_type")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > support * total)
        .collect()
    }
    approx = set(e.stat.freqItems(["event_type"], support).first()[0])
    assert truth <= approx


def test_approx_top_k_matches_exact_on_fixture(spark, sf_dir):
    """approx_top_k (frequent-items sketch) must return the true top-5
    tokens with exact counts at fixture scale (vocab 31 << sketch
    capacity) — the mergeable one-pass replacement for the
    explode+groupBy+rank top-terms pipeline at 100 TB."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.catalog import table

    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("tok"))
    approx = toks.agg(F.expr("approx_top_k(tok, 5)").alias("top")).first().top
    exact = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(5)
        .collect()
    )
    assert {(r.item, r["count"]) for r in approx} == {
        (r.tok, r.c) for r in exact
    }


def test_ranged_running_sum_matches_global_window(spark, sf_dir):
    """Two-pass range-partitioned cumulative sum == the single-partition
    global window, bitwise (decimal addition reassociates exactly), and
    the plan range-partitions the data instead of funneling it through
    one task."""
    from pyspark.sql import Window

    from datastore_mapper_spark.operators.scale import ranged_running_sum

    o = table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    order = [F.desc("rev"), F.asc("o_custkey")]
    got = ranged_running_sum(spend, order, "rev", "cum", num_partitions=7)
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = spend.withColumn("cum", F.sum("rev").over(w))
    g = {(r.o_custkey, r.cum) for r in got.collect()}
    e = {(r.o_custkey, r.cum) for r in want.collect()}
    assert g == e
    assert "rangepartitioning" in _physical_plan(got).lower()


def test_ranged_row_number_matches_global_window(spark, sf_dir):
    from pyspark.sql import Window

    from datastore_mapper_spark.operators.scale import ranged_row_number

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    order = [F.asc("o_totalprice"), F.asc("o_orderkey")]
    got = ranged_row_number(o, order, "rn", num_partitions=7)
    want = o.withColumn(
        "rn", F.row_number().over(Window.orderBy(*order))
    )
    g = {(r.o_orderkey, r.rn) for r in got.collect()}
    e = {(r.o_orderkey, r.rn) for r in want.collect()}
    assert g == e


def test_ntile_from_row_number_matches_ntile(spark, sf_dir):
    """The integer ntile arithmetic reproduces SQL ntile(k) exactly —
    including the n % k != 0 case where leading buckets are larger."""
    from pyspark.sql import Window

    from datastore_mapper_spark.operators.scale import (
        ntile_from_row_number,
        ranged_row_number,
    )

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    order = [F.asc("o_totalprice"), F.asc("o_orderkey")]
    for k in (3, 8):
        cnt = o.agg(F.count("*").alias("__n"))
        got = {
            (r.o_orderkey, r.b)
            for r in ranged_row_number(o, order, "rn", num_partitions=5)
            .crossJoin(F.broadcast(cnt))
            .select(
                "o_orderkey",
                ntile_from_row_number(F.col("rn"), F.col("__n"), k).alias("b"),
            )
            .collect()
        }
        want = {
            (r.o_orderkey, r.b)
            for r in o.select(
                "o_orderkey", F.ntile(k).over(Window.orderBy(*order)).alias("b")
            ).collect()
        }
        assert got == want, f"k={k}"


def test_ranged_running_sum_exclusive_matches_global_window(spark, sf_dir):
    """Exclusive mode == sum OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING
    AND 1 PRECEDING) with NULL->0 on the first row."""
    from pyspark.sql import Window

    from datastore_mapper_spark.operators.scale import ranged_running_sum

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("v")
    )
    order = [F.asc("o_orderkey")]
    got = ranged_running_sum(
        o, order, "v", "pre", num_partitions=7, exclusive=True
    )
    w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
    want = o.withColumn("pre", F.coalesce(F.sum("v").over(w), F.lit(0)))
    g = {(r.o_orderkey, r.pre) for r in got.collect()}
    e = {(r.o_orderkey, r.pre) for r in want.collect()}
    assert g == e


def _final_plan_after_exec(df) -> str:
    """Execute ``df`` and return ONLY the AQE final-plan section."""
    df.collect()
    plan = _physical_plan(df)
    return plan.split("== Initial Plan ==")[0]


def _assert_shared_range_cache(final_plan: str, ctx=""):
    """Round-5 ADVICE (medium): ranged_running_sum / ranged_row_number
    are only correct if the data branch and the offsets branch read the
    SAME evaluation of the repartitionByRange exchange — the range
    bounds are sampled with a per-RDD seed, so two independent
    evaluations can pick different bounds and silently misalign the
    offsets (ReuseExchange does NOT reliably fire: column pruning below
    the exchange breaks canonicalization, observed live on
    window_ntile_first_last).  The operator therefore persists the
    keyed frame — both branches then resolve to the one cached
    relation by plan identity.  Pin it: the plan must contain an
    InMemoryRelation, and every rangepartitioning exchange must live
    INSIDE a cached subtree (no free-standing range exchange that a
    second branch could independently re-evaluate)."""
    assert "InMemoryRelation" in final_plan, (ctx, final_plan)
    n_range = final_plan.count("Exchange rangepartitioning")
    n_cached = final_plan.count("InMemoryRelation")
    assert n_range <= n_cached, (ctx, n_range, n_cached, final_plan)


def test_ranged_ops_share_one_range_partitioning(spark, sf_dir):
    from datastore_mapper_spark.operators.scale import (
        ranged_row_number,
        ranged_running_sum,
    )

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    order = [F.asc("o_totalprice"), F.asc("o_orderkey")]
    for build in (
        lambda: ranged_row_number(o, order, "rn", num_partitions=7),
        lambda: ranged_running_sum(
            o, order, "o_totalprice", "cum", num_partitions=7
        ),
    ):
        df = build()
        _assert_shared_range_cache(_final_plan_after_exec(df))
        df.unpersist()


def test_graded_ranged_queries_share_one_range_partitioning(spark, sf_dir):
    """Same invariant asserted end-to-end on graded queries that ride
    the two-pass ranged operators (payload columns beside the order
    keys are exactly what broke exchange canonicalization)."""
    from datastore_mapper_spark.registry import all_queries

    specs = all_queries()
    for name in (
        "window_ntile_first_last",
        "customer_abc_pareto",
        "pack_sequences_token_budget",
        "median_exact_scalable",
    ):
        final = _final_plan_after_exec(specs[name].fn(spark, sf_dir))
        _assert_shared_range_cache(final, ctx=name)


def test_input_split_sizing_scales_scan_parallelism(spark, sf_dir):
    """spark.sql.files.maxPartitionBytes is the spill-aware knob that
    sizes input splits: lowering it must raise scan parallelism on the
    same file.  At 100 TB this (with openCostInBytes) is how a scan's
    task count — and so per-task memory — is controlled without
    rewriting the data."""
    import os

    path = os.path.join(sf_dir, "lineitem.parquet")
    size = os.path.getsize(path)
    before = spark.read.parquet(path).rdd.getNumPartitions()
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(max(size // 6, 1)))
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        after = spark.read.parquet(path).rdd.getNumPartitions()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
        spark.conf.unset("spark.sql.files.openCostInBytes")
    assert after > before, (before, after)


def test_cbo_column_stats_propagate_cardinality(spark, sf_dir):
    """ANALYZE TABLE ... FOR ALL COLUMNS + spark.sql.cbo.enabled: the
    optimizer must carry DEFINED row-count estimates, and a selective
    dim filter must shrink the join's estimated cardinality below the
    unfiltered fact count — the statistics machinery join reordering
    and broadcast decisions depend on at 100 TB (a cluster can't
    afford to discover at runtime that the build side was 2 TB)."""
    import os
    import shutil

    from datastore_mapper_spark.catalog import table as cat_table

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = wh.removeprefix("file:")
    for t in ("cbo_orders", "cbo_cust"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    cat_table(spark, sf_dir, "orders").write.saveAsTable("cbo_orders")
    cat_table(spark, sf_dir, "customer").write.saveAsTable("cbo_cust")
    spark.sql("ANALYZE TABLE cbo_orders COMPUTE STATISTICS FOR ALL COLUMNS")
    spark.sql("ANALYZE TABLE cbo_cust COMPUTE STATISTICS FOR ALL COLUMNS")
    n_orders = spark.table("cbo_orders").count()

    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    try:
        q = spark.sql(
            "SELECT o.o_orderkey FROM cbo_orders o "
            "JOIN cbo_cust c ON o.o_custkey = c.c_custkey "
            "WHERE c.c_mktsegment = 'BUILDING'"
        )
        stats = q._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().isDefined(), "CBO left rowCount undefined"
        est = int(str(stats.rowCount().get()))
        # ~1/5 of customers are BUILDING; the estimate must reflect the
        # filter, not pass the full fact cardinality through
        assert 0 < est < n_orders, (est, n_orders)
    finally:
        spark.conf.unset("spark.sql.cbo.enabled")
        spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
        for t in ("cbo_orders", "cbo_cust"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bloom_prefilter_no_false_negatives_and_bounded_fps(spark):
    """operators/bloom.py invariants: (a) bloom_semi_join is
    row-identical to the plain left-semi join (false negatives
    impossible — the seed-type seam between build and probe hashing
    would break exactly this); (b) the prefilter's false-positive
    rate stays near the m/n=10, k=7 theory bound (~1 %); (c) the
    probe-side test stays in whole-stage codegen (no Python eval in
    the plan)."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.operators.bloom import (
        bloom_build,
        bloom_semi_join,
        might_contain,
    )

    build = spark.range(500).select((F.col("id") * 7 + 1).alias("k"))
    probe = spark.range(20_000).select(F.col("id").alias("pk"))
    res, num_bits = bloom_semi_join(probe, build, "pk", "k")
    exact = probe.join(build, probe.pk == build.k, "left_semi")
    got = {r.pk for r in res.collect()}
    want = {r.pk for r in exact.collect()}
    assert got == want
    bloom = bloom_build(build.select("k").distinct(), "k", num_bits)
    kept = (
        probe.crossJoin(F.broadcast(bloom))
        .filter(might_contain("bloom", "pk", num_bits))
        .count()
    )
    fp_rate = (kept - len(want)) / (20_000 - len(want))
    assert 0 <= fp_rate <= 0.05, fp_rate
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
