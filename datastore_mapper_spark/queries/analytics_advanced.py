"""Advanced-analytics extension queries (round 8, session 2).

Market-basket lift, Pareto skyline, exact dyadic EWMA, asymmetric
containment dedup, chi-square independence cells, linear multi-touch
attribution, blocked fuzzy join, exact weighted median, and Spearman
rank correlation — each a classic warehouse / training-data-pipeline
operation the registry did not yet cover, each with a DuckDB oracle.

FP-determinism notes (SURVEY §7.3-H2 discipline): every query below
accumulates in exact integer (or provably-exact dyadic-double) space
and applies at most a fixed per-row tree of double operations at the
end, so Spark and DuckDB produce bitwise-identical doubles regardless
of partitioning or aggregation order.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.dedup import word_bigram_array, word_bigrams
from ..registry import query


@query(
    "market_basket_lift",
    "analytics/join",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
        SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM baskets
    ), item AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
        FROM baskets GROUP BY 1
    ), pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2,
               CAST(count(*) AS BIGINT) AS co_cnt
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
    SELECT p.p1, p.p2, p.co_cnt, i1.cnt AS cnt1, i2.cnt AS cnt2,
           CAST(p.co_cnt AS DOUBLE) * n.n_orders / (i1.cnt * i2.cnt)
               AS lift
    FROM pairs p
    JOIN item i1 ON p.p1 = i1.l_partkey
    JOIN item i2 ON p.p2 = i2.l_partkey
    CROSS JOIN n
    WHERE p.co_cnt >= 2
    ORDER BY lift DESC, p.p1, p.p2
    LIMIT 100
    """,
)
def market_basket_lift(spark, sf_dir):
    """Market-basket co-occurrence with support/lift scoring — the
    association-rule-mining staple.  Pairs of parts bought in the same
    order via a self-join on the orderkey (fan-out bounded by basket
    size, never by item popularity — the join key is the ORDER, so a
    hot item does not square up), exact integer counts, and a single
    per-row double expression for lift.  The item-frequency and
    order-count sides are tiny aggregates and broadcast.  At 100 TB
    the basket self-join shuffles once on orderkey and the co_cnt >= 2
    filter runs map-side partial before the pair groupBy."""
    li = table(spark, sf_dir, "lineitem")
    # materialized once (round-17, guide §1.2): four consumers (the
    # order count, both broadcast item-frequency builds, and both
    # sides of the pair self-join) otherwise each re-run the lineitem
    # scan + distinct — ~10 MB of (orderkey, partkey) pairs at sf0.1
    baskets = li.select("l_orderkey", "l_partkey").distinct() \
        .localCheckpoint()
    n = baskets.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    item = baskets.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("cnt")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .agg(F.count("*").cast("long").alias("co_cnt"))
        .filter(F.col("co_cnt") >= 2)
    )
    return (
        pairs.join(
            F.broadcast(item.withColumnRenamed("cnt", "cnt1")),
            pairs.p1 == F.col("l_partkey"),
        )
        .drop("l_partkey")
        .join(
            F.broadcast(
                item.withColumnRenamed("cnt", "cnt2")
            ),
            F.col("p2") == F.col("l_partkey"),
        )
        .drop("l_partkey")
        .crossJoin(F.broadcast(n))
        .select(
            "p1",
            "p2",
            "co_cnt",
            "cnt1",
            "cnt2",
            (
                F.col("co_cnt").cast("double")
                * F.col("n_orders")
                / (F.col("cnt1") * F.col("cnt2"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "p1", "p2")
        .limit(100)
    )


#: Skyline bucket width in cents — fixed so the bucketing is a pure
#: function of the value, not of the data distribution.
_SKYLINE_BUCKET_CENTS = 1 << 24


@query(
    "skyline_pareto_frontier",
    "analytics/window",
    oracle="""
    WITH c AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS spend_cents,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT a.o_custkey, a.spend_cents, a.n_orders
    FROM c a
    WHERE NOT EXISTS (
        SELECT 1 FROM c b
        WHERE b.spend_cents >= a.spend_cents
          AND b.n_orders >= a.n_orders
          AND (b.spend_cents > a.spend_cents
               OR b.n_orders > a.n_orders)
    )
    """,
)
def skyline_pareto_frontier(spark, sf_dir):
    """2-D skyline (Pareto frontier): customers not dominated on
    (total spend, order count).  The ORACLE states the semantics as
    the quadratic NOT EXISTS; the Spark plan is the scalable
    algorithm: bucket spend into fixed-width ranges, aggregate the
    per-bucket max order-count (tiny, broadcast), take a running max
    over strictly-higher buckets, and resolve within-bucket dominance
    with a bucket-partitioned window — no global single-partition
    sort, no quadratic join.  A row survives iff its n_orders strictly
    exceeds the best among all strictly-larger spends and equals the
    best among equal spends (ties on BOTH coordinates are mutually
    non-dominating and all survive).  At 100 TB: one groupBy shuffle
    to customer grain, one broadcast of ~hundreds of bucket rows, one
    window partitioned by bucket."""
    o = table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("spend_cents"),
        F.count("*").cast("long").alias("n_orders"),
    )
    c = c.withColumn(
        "bucket", (F.col("spend_cents") / F.lit(_SKYLINE_BUCKET_CENTS))
        .cast("long")
    )
    # per-bucket best n_orders, then the best over STRICTLY higher
    # buckets (every row there has strictly greater spend by
    # construction of the fixed-width bucketing)
    bstats = c.groupBy("bucket").agg(F.max("n_orders").alias("bmax"))
    wb = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bstats = bstats.withColumn("higher_max", F.max("bmax").over(wb)).drop(
        "bmax"
    )
    cc = c.join(F.broadcast(bstats), "bucket", "left")
    # within-bucket strictly-greater spends (integer RANGE frame), and
    # the best among EQUAL spends
    w_gt = (
        Window.partitionBy("bucket")
        .orderBy(F.desc("spend_cents"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("spend_cents")
    cc = cc.withColumn(
        "dom_max",
        F.greatest(
            F.coalesce(F.max("n_orders").over(w_gt), F.lit(-1)),
            F.coalesce(F.col("higher_max"), F.lit(-1)),
        ),
    ).withColumn("same_max", F.max("n_orders").over(w_same))
    return (
        cc.filter(
            (F.col("n_orders") > F.col("dom_max"))
            & (F.col("n_orders") == F.col("same_max"))
        )
        .select("o_custkey", "spend_cents", "n_orders")
    )


@query(
    "ewma_dyadic_smoothing",
    "analytics/window",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts::TIMESTAMP AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ), r AS (
        SELECT user_id, cents,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id)
                    AS BIGINT) AS rn
        FROM e
    )
    SELECT a.user_id, a.rn,
           CAST(sum(b.cents * power(0.5, a.rn - b.rn))
                / sum(power(0.5, a.rn - b.rn)) / 100.0
                AS DOUBLE) AS ewma
    FROM r a JOIN r b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 19 AND a.rn
    GROUP BY a.user_id, a.rn
    """,
)
def ewma_dyadic_smoothing(spark, sf_dir):
    """Exponentially-weighted moving average per user — EXACT, by
    construction: alpha = 1/2 makes every weight a dyadic 2^-k, the
    horizon is truncated to 20 terms, and values are integer cents, so
    every product and every partial sum fits a 53-bit mantissa
    (16-bit cents + 19-bit shift + 5-bit count < 53) and the
    normalized-EWMA sum is bit-identical in ANY accumulation order —
    the determinism hazard of floating smoothing (SURVEY §7.3-H2)
    designed out rather than tolerated.  Implemented as a banded
    self-join on row number (equi join on user + 20-wide band), the
    same shape both engines run; at 100 TB the fan-out is a fixed
    x20 and the join co-partitions on user_id."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    r = e.select(
        "user_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.row_number().over(w).cast("long").alias("rn"),
    )
    a, b = r.alias("a"), r.alias("b")
    k = F.col("a.rn") - F.col("b.rn")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.rn") >= F.col("a.rn") - 19)
            & (F.col("b.rn") <= F.col("a.rn")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"), F.col("a.rn").alias("rn"))
        .agg(
            F.sum(F.col("b.cents") * F.pow(F.lit(0.5), k)).alias("num"),
            F.sum(F.pow(F.lit(0.5), k)).alias("den"),
        )
        .select(
            "user_id",
            "rn",
            (F.col("num") / F.col("den") / F.lit(100.0))
            .cast("double")
            .alias("ewma"),
        )
    )


def _bigram_candidate_pairs(spark, sf_dir, keep):
    """(documents, pairs) for the containment queries: doc pairs that
    share a word bigram (mask ``bg``) and pass ``keep`` over their
    distinct-token sets (mask ``tk``), through
    :func:`bitset.pair_survivors` — the blocked kernel on a degenerate
    bigram index, the index join otherwise."""
    from ..operators.bitset import dictionary_ids, pair_survivors

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok"),
    )
    sh = word_bigrams(d)
    tok_gid = dictionary_ids(toks, "tok")
    bg_gid = dictionary_ids(sh, "g")
    longs = {
        "tk": toks.join(F.broadcast(tok_gid), "tok").select("doc_id", "gid"),
        "bg": sh.join(F.broadcast(bg_gid), "g").select("doc_id", "gid"),
    }
    n_bits = max(tok_gid.count(), bg_gid.count())
    return d, pair_survivors(longs, "doc_id", "bg", keep, d.count(), n_bits)


@query(
    "containment_asymmetric_dedup",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        )
    ), sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM toks GROUP BY 1
    ), w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> list_extract(w, i) || ' ' ||
                               list_extract(w, i + 1))) AS g
            FROM w
        )
    ), cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
    ), inter AS (
        SELECT c.d1, c.d2, CAST(count(*) AS BIGINT) AS ov
        FROM cand c
        JOIN toks t1 ON t1.doc_id = c.d1
        JOIN toks t2 ON t2.doc_id = c.d2 AND t2.tok = t1.tok
        GROUP BY 1, 2
    )
    SELECT i.d1, i.d2, i.ov,
           least(s1.sz, s2.sz) AS sz_small,
           CAST(i.ov AS DOUBLE) / (s1.sz + s2.sz - i.ov) AS jaccard
    FROM inter i
    JOIN sizes s1 ON i.d1 = s1.doc_id
    JOIN sizes s2 ON i.d2 = s2.doc_id
    WHERE i.ov = least(s1.sz, s2.sz)
      AND CAST(i.ov AS DOUBLE) / (s1.sz + s2.sz - i.ov) < 0.5
    """,
)
def containment_asymmetric_dedup(spark, sf_dir):
    """Containment (asymmetric near-dup) detection: pairs where the
    SMALLER token set is FULLY contained in the other (an exact
    integer condition, ov == min(|A|,|B|) — no float threshold at
    all), yet symmetric Jaccard stays BELOW the near-dup bar — the
    quote/subset/boilerplate-inclusion case that resemblance-based
    dedup (dedup_near_jaccard and friends) deliberately does not
    flag.  Candidates come from the shared-bigram inverted index rule
    (stated identically in both engines) — but on this fixture that
    index degenerates (operators/bitset.py), so the Spark plan runs
    the candidate rule AND the containment test in the packed-bitset
    blocked kernel shared with dedup_drop_contained / dedup_bigram_
    jaccard: per doc, a bigram bitset (candidates = inter ≥ 1) and a
    dictionary-exact token bitset (ov = token inter, containment ⟺
    ov == min(sz)), plus the algebraic size prune the oracle leaves
    implicit — given containment, Jaccard < 0.5 ⟺ max > 2·min, an
    integer condition evaluated inside the kernel.  Only surviving
    integer counts leave the kernel; the Jaccard double division
    happens in SQL, so float semantics match the oracle."""
    _, pairs = _bigram_candidate_pairs(
        spark, sf_dir,
        # containment + jaccard < 0.5 ⟺ max > 2*min (integer)
        lambda inter, sz1, sz2, least, greatest: (
            (inter["tk"] == least(sz1["tk"], sz2["tk"]))
            & (greatest(sz1["tk"], sz2["tk"])
               > 2 * least(sz1["tk"], sz2["tk"]))),
    )
    jac = F.col("tk_inter").cast("double") / (
        F.col("tk_sz1") + F.col("tk_sz2") - F.col("tk_inter")
    )
    return pairs.select(
        "d1",
        "d2",
        F.col("tk_inter").alias("ov"),
        F.least("tk_sz1", "tk_sz2").alias("sz_small"),
        jac.alias("jaccard"),
    )


@query(
    "chisq_independence_cells",
    "data-quality",
    oracle="""
    WITH e AS (
        SELECT event_type,
               CAST(extract(hour FROM ts::TIMESTAMP) // 6 AS BIGINT)
                   AS daypart
        FROM events
    ), obs AS (
        SELECT event_type, daypart, CAST(count(*) AS BIGINT) AS obs
        FROM e GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, daypart, obs,
               CAST(sum(obs) OVER (PARTITION BY event_type) AS BIGINT)
                   AS row_tot,
               CAST(sum(obs) OVER (PARTITION BY daypart) AS BIGINT)
                   AS col_tot,
               CAST(sum(obs) OVER () AS BIGINT) AS n
        FROM obs
    )
    SELECT event_type, daypart, obs, row_tot, col_tot,
           CAST(row_tot AS DOUBLE) * col_tot / n AS expected,
           (obs - CAST(row_tot AS DOUBLE) * col_tot / n)
               * (obs - CAST(row_tot AS DOUBLE) * col_tot / n)
               / (CAST(row_tot AS DOUBLE) * col_tot / n) AS contrib
    FROM tot
    """,
)
def chisq_independence_cells(spark, sf_dir):
    """Chi-square independence test cells for the event_type × daypart
    contingency table — the drift/DQ statistic behind categorical-
    distribution monitoring (the Pearson-residual companion to
    dq_distribution_drift_psi).  Counts and marginals are exact
    integers via window sums over the tiny cell table; expected counts
    and per-cell contributions are a fixed per-row double tree, so the
    cross-engine values are bitwise equal.  The global statistic is
    the SUM of contrib over ~20 cells — left to the reader-side
    because a cross-row double sum's accumulation order is engine
    internal; the per-cell decomposition is strictly more informative
    for drift triage anyway.  At 100 TB only the first groupBy touches
    the fact table."""
    e = table(spark, sf_dir, "events")
    obs = (
        e.select(
            "event_type",
            F.expr("CAST(hour(ts_us) DIV 6 AS BIGINT)").alias("daypart"),
        )
        .groupBy("event_type", "daypart")
        .agg(F.count("*").cast("long").alias("obs"))
    )
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("daypart")
    w_all = Window.partitionBy()
    tot = obs.select(
        "event_type",
        "daypart",
        "obs",
        F.sum("obs").over(w_row).cast("long").alias("row_tot"),
        F.sum("obs").over(w_col).cast("long").alias("col_tot"),
        F.sum("obs").over(w_all).cast("long").alias("n"),
    )
    expected = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    return tot.select(
        "event_type",
        "daypart",
        "obs",
        "row_tot",
        "col_tot",
        expected.alias("expected"),
        ((F.col("obs") - expected) * (F.col("obs") - expected) / expected)
        .alias("contrib"),
    )


@query(
    "attribution_linear_multi_touch",
    "analytics",
    oracle="""
    WITH purch AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_purch
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), touch AS (
        SELECT DISTINCT user_id, event_type
        FROM events WHERE event_type <> 'purchase'
    ), k AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS k
        FROM touch GROUP BY 1
    ), credit AS (
        SELECT t.event_type,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(COALESCE(p.n_purch, 0) * (840 // k.k)) AS BIGINT)
                   AS credit_units
        FROM touch t
        JOIN k ON t.user_id = k.user_id
        LEFT JOIN purch p ON t.user_id = p.user_id
        GROUP BY 1
    )
    SELECT event_type, n_users, credit_units,
           CAST(credit_units / 840.0 AS DOUBLE) AS attributed_purchases
    FROM credit
    """,
)
def attribution_linear_multi_touch(spark, sf_dir):
    """Linear (equal-split) multi-touch attribution — the fractional
    twin of attribution_first_touch: each user's purchases are
    credited 1/k to each of their k distinct non-purchase touch
    types.  The 1/k fractions are kept EXACT by crediting in integer
    units of 840/k (840 = lcm(1..8); k <= 8 is a pinned fixture
    invariant — tests/test_contract_oracle.py::
    test_attribution_lcm_denominator_covers_touch_types — because a
    9th touch type would truncate identically on both engines,
    invisible to the hash), summing BIGINTs, and performing the
    single double division per output row at the end — no cross-row
    float accumulation, so the engines agree bitwise.  At 100 TB this
    is two user-grain aggregates plus a broadcastable per-user join."""
    e = table(spark, sf_dir, "events")
    purch = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n_purch"))
    )
    touch = (
        e.filter(F.col("event_type") != "purchase")
        .select("user_id", "event_type")
        .distinct()
    )
    k = touch.groupBy("user_id").agg(F.count("*").cast("long").alias("k"))
    return (
        touch.join(k, "user_id")
        .join(purch, "user_id", "left")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum(
                F.coalesce(F.col("n_purch"), F.lit(0))
                * F.expr("840 DIV k")
            )
            .cast("long")
            .alias("credit_units"),
        )
        .select(
            "event_type",
            "n_users",
            "credit_units",
            (F.col("credit_units") / F.lit(840.0))
            .cast("double")
            .alias("attributed_purchases"),
        )
    )


@query(
    "fuzzy_join_blocked_levenshtein",
    "join",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    b AS (
        SELECT p_name, split_part(p_name, ' ', 2) AS noun FROM names
    )
    SELECT a.p_name AS name1, c.p_name AS name2,
           CAST(levenshtein(a.p_name, c.p_name) AS BIGINT) AS dist
    FROM b a JOIN b c
      ON a.noun = c.noun AND a.p_name < c.p_name
    WHERE levenshtein(a.p_name, c.p_name) <= 3
    """,
)
def fuzzy_join_blocked_levenshtein(spark, sf_dir):
    """Blocked fuzzy (edit-distance) self-join over part names — the
    entity-resolution candidate step: block on the head noun
    (split_part), score candidate pairs with exact Levenshtein, keep
    distance <= 3.  Blocking turns the quadratic all-pairs scan into
    per-block quadratics over DISTINCT names (the dedup-then-match
    discipline: score each distinct string once, not once per row);
    at 100 TB the block key shuffles once and a hot block is split by
    AQE skew handling — the same levers as any skewed equi join."""
    p = table(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    b = names.select(
        "p_name", F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun")
    )
    a, c = b.alias("a"), b.alias("c")
    dist = F.levenshtein(F.col("a.p_name"), F.col("c.p_name"))
    return (
        a.join(
            c,
            (F.col("a.noun") == F.col("c.noun"))
            & (F.col("a.p_name") < F.col("c.p_name")),
        )
        .filter(dist <= 3)
        .select(
            F.col("a.p_name").alias("name1"),
            F.col("c.p_name").alias("name2"),
            dist.cast("long").alias("dist"),
        )
    )


@query(
    "weighted_median_exact",
    "aggregation/robust",
    oracle="""
    WITH x AS (
        SELECT l_returnflag AS flag, l_extendedprice AS price,
               CAST(floor(l_quantity) AS BIGINT) AS wt
        FROM lineitem
    ), pp AS (
        SELECT flag, price, CAST(sum(wt) AS BIGINT) AS w
        FROM x GROUP BY 1, 2
    ), cum AS (
        SELECT flag, price, w,
               CAST(sum(w) OVER (PARTITION BY flag ORDER BY price)
                    AS BIGINT) AS cw,
               CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tw
        FROM pp
    )
    SELECT flag,
           CAST(max(tw) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN 2 * cw >= tw THEN price END) AS DOUBLE)
               AS wmedian
    FROM cum GROUP BY flag
    """,
)
def weighted_median_exact(spark, sf_dir):
    """EXACT weighted median per group (lower weighted median:
    smallest price whose cumulative quantity-weight reaches half the
    total) — the robust-statistics companion to
    median_exact_scalable, with integer weights so the halving test
    is `2*cw >= tw` in exact arithmetic (no fraction, no float
    threshold).  Prices are first compressed to distinct values per
    group (groupBy), so the ordered window runs over |distinct
    prices| not |rows|; at 100 TB the same two-pass range-partitioned
    strategy as the exact-median operator applies (operators/scale.py),
    with the per-price compression shrinking the second pass."""
    li = table(spark, sf_dir, "lineitem")
    pp = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("price"),
            F.floor(F.col("l_quantity")).cast("long").alias("wt"),
        )
        .groupBy("flag", "price")
        .agg(F.sum("wt").cast("long").alias("w"))
    )
    w_cum = (
        Window.partitionBy("flag")
        .orderBy("price")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("flag")
    cum = pp.select(
        "flag",
        "price",
        F.sum("w").over(w_cum).cast("long").alias("cw"),
        F.sum("w").over(w_tot).cast("long").alias("tw"),
    )
    return cum.groupBy("flag").agg(
        F.max("tw").cast("long").alias("total_weight"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("price")))
        .cast("double")
        .alias("wmedian"),
    )


@query(
    "spearman_rank_correlation",
    "aggregation/robust",
    oracle="""
    WITH x AS (
        SELECT l_returnflag AS flag, l_quantity AS qx,
               l_extendedprice AS qy
        FROM lineitem
    ), rk AS (
        SELECT flag,
               CAST(2 * rank() OVER (PARTITION BY flag ORDER BY qx)
                    + count(*) OVER (PARTITION BY flag, qx) - 1
                    AS BIGINT) AS drx,
               CAST(2 * rank() OVER (PARTITION BY flag ORDER BY qy)
                    + count(*) OVER (PARTITION BY flag, qy) - 1
                    AS BIGINT) AS dry
        FROM x
    ), s AS (
        SELECT flag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(drx) AS BIGINT) AS sx,
               CAST(sum(dry) AS BIGINT) AS sy,
               CAST(sum(drx * dry) AS BIGINT) AS sxy,
               CAST(sum(drx * drx) AS BIGINT) AS sxx,
               CAST(sum(dry * dry) AS BIGINT) AS syy
        FROM rk GROUP BY flag
    )
    SELECT flag, n,
           CAST(CAST(CAST(n AS HUGEINT) * sxy
                     - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                / (sqrt(CAST(CAST(n AS HUGEINT) * sxx
                             - CAST(sx AS HUGEINT) * sx AS DOUBLE))
                   * sqrt(CAST(CAST(n AS HUGEINT) * syy
                               - CAST(sy AS HUGEINT) * sy AS DOUBLE)))
                AS DOUBLE) AS spearman_rho
    FROM s
    """,
)
def spearman_rank_correlation(spark, sf_dir):
    """Spearman rank correlation (quantity vs extended price per
    return flag) — the robust, outlier-immune correlation.  Average
    ranks with ties are kept EXACT by working in doubled ranks
    (2*avg_rank = 2*rank + |ties| - 1, an integer), so every
    accumulated moment is an exact BIGINT; the moments exceed 64 bits
    only in the final n*S - S*S combinations, which run in 128-bit
    integer space (Spark DECIMAL(38,0) ≙ DuckDB HUGEINT) before ONE
    cast to double each — numerator and both radicands are exact
    integers, so sqrt/divide see identical doubles on both engines.
    At 100 TB: two window shuffles on the group key, one aggregate."""
    li = table(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").alias("qx"),
        F.col("l_extendedprice").alias("qy"),
    )
    rk = x.select(
        "flag",
        (
            2 * F.rank().over(Window.partitionBy("flag").orderBy("qx"))
            + F.count("*").over(Window.partitionBy("flag", "qx"))
            - 1
        )
        .cast("long")
        .alias("drx"),
        (
            2 * F.rank().over(Window.partitionBy("flag").orderBy("qy"))
            + F.count("*").over(Window.partitionBy("flag", "qy"))
            - 1
        )
        .cast("long")
        .alias("dry"),
    )
    s = rk.groupBy("flag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("drx").cast("long").alias("sx"),
        F.sum("dry").cast("long").alias("sy"),
        F.sum(F.col("drx") * F.col("dry")).cast("long").alias("sxy"),
        F.sum(F.col("drx") * F.col("drx")).cast("long").alias("sxx"),
        F.sum(F.col("dry") * F.col("dry")).cast("long").alias("syy"),
    )
    dec = "decimal(38,0)"
    num = (
        F.col("n").cast(dec) * F.col("sxy")
        - F.col("sx").cast(dec) * F.col("sy")
    ).cast("double")
    radx = (
        F.col("n").cast(dec) * F.col("sxx")
        - F.col("sx").cast(dec) * F.col("sx")
    ).cast("double")
    rady = (
        F.col("n").cast(dec) * F.col("syy")
        - F.col("sy").cast(dec) * F.col("sy")
    ).cast("double")
    return s.select(
        "flag",
        "n",
        (num / (F.sqrt(radx) * F.sqrt(rady)))
        .cast("double")
        .alias("spearman_rho"),
    )


@query(
    "ledger_capped_balance",
    "stateful/etl",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT user_id,
               CAST(row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts::TIMESTAMP, event_id)
                    AS BIGINT) AS rn,
               CASE WHEN event_type IN ('purchase', 'signup')
                    THEN CAST(floor(value * 100) AS BIGINT)
                    ELSE -CAST(floor(value * 100) AS BIGINT)
               END AS delta
        FROM events
    ), bal AS (
        SELECT user_id, rn,
               CAST(least(50000, greatest(0, delta)) AS BIGINT) AS balance
        FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn,
               CAST(least(50000, greatest(0, b.balance + e.delta))
                    AS BIGINT) AS balance
        FROM bal b JOIN e ON e.user_id = b.user_id AND e.rn = b.rn + 1
    )
    SELECT user_id, rn, balance FROM bal
    """,
)
def ledger_capped_balance(spark, sf_dir):
    """Saturating (clamped) running balance per user — credits for
    purchase/signup, debits otherwise, balance pinned to [0, 50000]
    cents after every step.  The clamp makes the recurrence
    NON-ASSOCIATIVE, so no window aggregate can express it: this is
    the engine's tier-(b) custom operator, an Arrow-batched
    ``applyInPandas`` sequential scan per user
    (operators/ledger.py), while the ORACLE states the same
    recurrence as a recursive CTE — two maximally-different
    evaluation strategies agreeing row-for-row in exact integer
    arithmetic.  At 100 TB: one shuffle to co-locate each key's
    history; unbounded histories chain per-epoch scans with carry-in
    state (see ledger.py docstring)."""
    from ..operators.ledger import capped_running_balance

    e = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    keyed = e.select(
        "user_id",
        F.unix_micros(F.col("ts_us")).alias("us"),
        "event_id",
        F.when(
            F.col("event_type").isin("purchase", "signup"), cents
        )
        .otherwise(-cents)
        .alias("delta"),
    )
    return capped_running_balance(keyed, cap=50_000)


@query(
    "funnel_sessionized",
    "stream-analogue/analytics",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_id, event_type,
               epoch_us(ts::TIMESTAMP) AS us
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, event_type, us,
               CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
        SELECT user_id, event_type, us,
               CAST(sum(is_new) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id)
                    AS BIGINT) AS session_id
        FROM flagged
    ), v AS (
        SELECT user_id, session_id, min(us) AS t_view
        FROM sess WHERE event_type = 'view' GROUP BY 1, 2
    ), c AS (
        SELECT s.user_id, s.session_id, min(s.us) AS t_click
        FROM sess s JOIN v ON s.user_id = v.user_id
                          AND s.session_id = v.session_id
        WHERE s.event_type = 'click' AND s.us > v.t_view
        GROUP BY 1, 2
    ), p AS (
        SELECT s.user_id, s.session_id, min(s.us) AS t_buy
        FROM sess s JOIN c ON s.user_id = c.user_id
                          AND s.session_id = c.session_id
        WHERE s.event_type = 'purchase' AND s.us > c.t_click
        GROUP BY 1, 2
    ), n AS (
        SELECT count(*) AS n_sessions FROM (
            SELECT DISTINCT user_id, session_id FROM sess
        )
    )
    SELECT CAST(n.n_sessions AS BIGINT) AS n_sessions,
           CAST((SELECT count(*) FROM v) AS BIGINT) AS sessions_viewed,
           CAST((SELECT count(*) FROM c) AS BIGINT)
               AS sessions_clicked_after_view,
           CAST((SELECT count(*) FROM p) AS BIGINT)
               AS sessions_purchased_after_click
    FROM n
    """,
)
def funnel_sessionized(spark, sf_dir):
    """SESSION-scoped conversion funnel: the view -> click -> purchase
    progression must complete within one 30-minute-gap session, not
    across a user's lifetime (the composition of
    session_windows_gap30m and funnel_conversion_steps — product
    analytics' actual question).  Sessionization is the lag-gap ->
    running-sum idiom in exact µs; each stage is a per-(user, session)
    min-aggregate joined to the previous frontier, so per-stage state
    is one timestamp per session.  At 100 TB every shuffle in the
    chain lands on the same user_id-derived key and AQE reuses the
    exchange."""
    e = table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("us", "event_id")
    base = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts_us")).alias("us"),
    )
    flagged = base.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(order).isNull()
            | (F.col("us") - F.lag("us").over(order) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.select(
        "user_id",
        "event_type",
        "us",
        F.sum("is_new").over(order).cast("long").alias("session_id"),
    )
    v = (
        sess.filter(F.col("event_type") == "view")
        .groupBy("user_id", "session_id")
        .agg(F.min("us").alias("t_view"))
    )
    c = (
        sess.filter(F.col("event_type") == "click")
        .join(v, ["user_id", "session_id"])
        .filter(F.col("us") > F.col("t_view"))
        .groupBy("user_id", "session_id")
        .agg(F.min("us").alias("t_click"))
    )
    p = (
        sess.filter(F.col("event_type") == "purchase")
        .join(c, ["user_id", "session_id"])
        .filter(F.col("us") > F.col("t_click"))
        .groupBy("user_id", "session_id")
        .agg(F.min("us").alias("t_buy"))
    )
    n = sess.select("user_id", "session_id").distinct().agg(
        F.count("*").cast("long").alias("n_sessions")
    )
    return (
        n.crossJoin(F.broadcast(v.agg(F.count("*").cast("long").alias("sessions_viewed"))))
        .crossJoin(
            F.broadcast(
                c.agg(
                    F.count("*").cast("long").alias("sessions_clicked_after_view")
                )
            )
        )
        .crossJoin(
            F.broadcast(
                p.agg(
                    F.count("*")
                    .cast("long")
                    .alias("sessions_purchased_after_click")
                )
            )
        )
    )


@query(
    "rrf_fusion_topk",
    "LLM-pipeline",
    oracle="""
    WITH dls AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents
    ), stats AS (
        SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
               count(*) AS n
        FROM dls
    ), tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok IN ('vector', 'merge', 'stream')
        GROUP BY 1, 2
    ), dfreq AS (
        SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM tf GROUP BY 1
    ), contrib AS (
        SELECT t.doc_id, t.tok,
               ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl)) AS c
        FROM tf t
        JOIN dfreq f USING (tok)
        JOIN dls d ON t.doc_id = d.doc_id
        CROSS JOIN stats s
    ), bm AS (
        SELECT doc_id,
               round(coalesce(max(CASE WHEN tok = 'vector' THEN c END), 0)
                     + coalesce(max(CASE WHEN tok = 'merge' THEN c END), 0)
                     + coalesce(max(CASE WHEN tok = 'stream' THEN c END), 0),
                     4) AS bm25
        FROM contrib GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id LIMIT 100
    ), br AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                    AS BIGINT) AS r_b
        FROM bm
    ), q AS (
        SELECT embedding AS qe,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM (SELECT unnest(embedding) AS x)) AS qq
        FROM embeddings WHERE vec_id = 0
    ), sims AS (
        SELECT e.vec_id,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                FROM (SELECT unnest(e.embedding) AS x,
                             unnest(q.qe) AS y)) AS dot,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM (SELECT unnest(e.embedding) AS x)) AS dd,
               q.qq AS qq
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    ), cs AS (
        SELECT vec_id, round(dot / (sqrt(dd) * sqrt(qq)), 4) AS sim
        FROM sims
        ORDER BY sim DESC, vec_id LIMIT 100
    ), cr AS (
        SELECT vec_id AS doc_id,
               CAST(row_number() OVER (ORDER BY sim DESC, vec_id)
                    AS BIGINT) AS r_c
        FROM cs
    )
    SELECT COALESCE(br.doc_id, cr.doc_id) AS doc_id, br.r_b, cr.r_c,
           COALESCE(1.0 / (60 + br.r_b), 0.0)
               + COALESCE(1.0 / (60 + cr.r_c), 0.0) AS rrf
    FROM br FULL OUTER JOIN cr ON br.doc_id = cr.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT 20
    """,
)
def rrf_fusion_topk(spark, sf_dir):
    """Reciprocal-rank fusion of a lexical (BM25) and a dense
    (embedding-cosine) retrieval list — the standard hybrid-search
    combiner (k=60): rrf(d) = Σ_lists 1/(60 + rank_list(d)) over the
    lists containing d.  Ranks come from the two existing scorers'
    4-dp-rounded scores (deterministic), tie-broken on id; the fused
    score is a TWO-term double sum, and IEEE addition is commutative,
    so no accumulation-order seam exists.  At 100 TB each list is its
    own top-k (per-partition heaps), the fusion is a full outer join
    of two 100-row relations — driver-trivial, cluster-trivial."""
    from .llm_extra import bm25_scored
    from .llm_vector import cosine_scored

    br = (
        bm25_scored(spark, sf_dir)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(100)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
            .cast("long")
            .alias("r_b"),
        )
    )
    cr = (
        cosine_scored(spark, sf_dir)
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(100)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(Window.orderBy(F.desc("sim"), F.asc("vec_id")))
            .cast("long")
            .alias("r_c"),
        )
    )
    fused = br.join(cr, "doc_id", "full_outer").select(
        "doc_id",
        "r_b",
        "r_c",
        (
            F.coalesce(1.0 / (60 + F.col("r_b")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("r_c")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(20)


@query(
    "quantile_normalize_by_source",
    "analytics/window",
    oracle="""
    WITH e AS (
        SELECT event_id, event_type, value FROM events
    ), n AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM e
    ), src AS (
        SELECT event_id, event_type, value,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY value, event_id)
                    AS BIGINT) AS r,
               CAST(count(*) OVER (PARTITION BY event_type)
                    AS BIGINT) AS ns
        FROM e
    ), pooled AS (
        SELECT value AS norm_value,
               CAST(row_number() OVER (ORDER BY value, event_id)
                    AS BIGINT) AS pos
        FROM e
    )
    SELECT s.event_id, s.event_type, s.value, p.norm_value
    FROM src s CROSS JOIN n
    JOIN pooled p ON p.pos = (s.r * n.n + s.ns - 1) // s.ns
    """,
)
def quantile_normalize_by_source(spark, sf_dir):
    """Quantile normalization across sources (batch-effect
    correction): each event type's value distribution is mapped onto
    the POOLED distribution by rank — row r of ns in a source takes
    the pooled value at position ceil(r*N/ns), all in exact integer
    arithmetic (no interpolation, no float quantiles).  Within-source
    ranks are ordinary partitioned windows; the POOLED global rank —
    the scale hazard — uses the two-pass range-partitioned row_number
    (operators/scale.py `ranged_row_number`: per-range counts
    broadcast as offsets), never a single-partition window, while the
    oracle states the same semantics with a plain global window.  The
    rank→position join is an equi join on an integer key."""
    from ..operators.scale import ranged_row_number

    e = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    n = e.agg(F.count("*").cast("long").alias("n"))
    w_src = Window.partitionBy("event_type").orderBy("value", "event_id")
    src = e.select(
        "event_id",
        "event_type",
        "value",
        F.row_number().over(w_src).cast("long").alias("r"),
        F.count("*")
        .over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("ns"),
    )
    pooled = ranged_row_number(
        e.select(
            F.col("value").alias("norm_value"), F.col("event_id").alias("pid")
        ),
        [F.col("norm_value"), F.col("pid")],
        "pos",
    ).select("norm_value", F.col("pos").cast("long").alias("pos"))
    return (
        src.crossJoin(F.broadcast(n))
        .withColumn(
            "pos", F.expr("CAST((r * n + ns - 1) DIV ns AS BIGINT)")
        )
        .join(pooled, "pos")
        .select("event_id", "event_type", "value", "norm_value")
    )


@query(
    "centroid_pairwise_cosine",
    "LLM-pipeline",
    oracle="""
    WITH cells AS (
        SELECT label, pos, CAST(round(avg(v) * 10000) AS BIGINT) AS m
        FROM (
            SELECT label,
                   unnest(generate_series(1, len(embedding))) AS pos,
                   unnest(embedding) AS v
            FROM embeddings
        )
        GROUP BY 1, 2
    ), norms AS (
        SELECT label, CAST(sum(m * m) AS BIGINT) AS nn
        FROM cells GROUP BY 1
    ), dots AS (
        SELECT a.label AS l1, b.label AS l2,
               CAST(sum(a.m * b.m) AS BIGINT) AS dot
        FROM cells a JOIN cells b
          ON a.pos = b.pos AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT d.l1, d.l2,
           CAST(d.dot / (sqrt(CAST(n1.nn AS DOUBLE))
                         * sqrt(CAST(n2.nn AS DOUBLE))) AS DOUBLE)
               AS cos_sim
    FROM dots d
    JOIN norms n1 ON d.l1 = n1.label
    JOIN norms n2 ON d.l2 = n2.label
    """,
)
def centroid_pairwise_cosine(spark, sf_dir):
    """Pairwise cosine similarity between per-label centroids — the
    cluster-overlap diagnostic behind IVF cell quality and
    label-leakage checks.  Centroid components are QUANTIZED to
    integer 1e-4 units immediately after the elementwise mean (the
    one rounding, same on both engines), so the 64-term dot products
    and norms accumulate as exact BIGINTs in any order; one double
    tree per output row at the end.  At 100 TB the centroid table is
    labels x 64 cells regardless of corpus size (map-side partial
    collapse), and the pairwise join is over that tiny relation."""
    e = table(spark, sf_dir, "embeddings")
    cells = (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).cast("long").alias("pos"))
        .agg(F.round(F.avg("v") * 10000).cast("long").alias("m"))
    )
    norms = cells.groupBy("label").agg(
        F.sum(F.col("m") * F.col("m")).cast("long").alias("nn")
    )
    a, b = cells.alias("a"), cells.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("l1"), F.col("b.label").alias("l2")
        )
        .agg(F.sum(F.col("a.m") * F.col("b.m")).cast("long").alias("dot"))
    )
    n1 = norms.withColumnRenamed("label", "l1").withColumnRenamed("nn", "nn1")
    n2 = norms.withColumnRenamed("label", "l2").withColumnRenamed("nn", "nn2")
    return (
        dots.join(F.broadcast(n1), "l1")
        .join(F.broadcast(n2), "l2")
        .select(
            "l1",
            "l2",
            (
                F.col("dot")
                / (
                    F.sqrt(F.col("nn1").cast("double"))
                    * F.sqrt(F.col("nn2").cast("double"))
                )
            )
            .cast("double")
            .alias("cos_sim"),
        )
    )


@query(
    "dq_benford_first_digit",
    "data-quality",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders
        WHERE o_totalprice > 0
    ), obs AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS obs FROM d GROUP BY 1
    ), tot AS (
        SELECT digit, obs, CAST(sum(obs) OVER () AS BIGINT) AS n FROM obs
    )
    SELECT digit, obs, n,
           CAST(obs AS DOUBLE) / n AS observed_p,
           log10(1.0 + 1.0 / digit) AS benford_p,
           CAST(obs AS DOUBLE) / n - log10(1.0 + 1.0 / digit)
               AS deviation
    FROM tot
    """,
)
def dq_benford_first_digit(spark, sf_dir):
    """Benford's-law first-significant-digit audit over order totals —
    the classic fabricated-data / unit-mixup detector for financial
    facts.  The digit is extracted from the exact integer-cents string
    (no float log tricks), counts are exact, the expected Benford mass
    log10(1 + 1/d) and the deviation are per-row double expressions.
    At 100 TB this is one 9-cell aggregate with map-side collapse —
    the cheapest DQ signal per byte scanned in the suite."""
    o = table(spark, sf_dir, "orders")
    d = o.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count("*").cast("long").alias("obs"))
    tot = obs.withColumn(
        "n", F.sum("obs").over(Window.partitionBy()).cast("long")
    )
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    return tot.select(
        "digit",
        "obs",
        "n",
        (F.col("obs").cast("double") / F.col("n")).alias("observed_p"),
        benford.alias("benford_p"),
        (F.col("obs").cast("double") / F.col("n") - benford).alias(
            "deviation"
        ),
    )


@query(
    "sample_systematic_every_k",
    "sampling",
    oracle="""
    WITH ranked AS (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               CAST(row_number() OVER (ORDER BY l_extendedprice,
                                       l_orderkey, l_linenumber)
                    AS BIGINT) AS pos
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_extendedprice, pos
    FROM ranked
    WHERE pos % 97 = 1
    """,
)
def sample_systematic_every_k(spark, sf_dir):
    """Systematic (every-k-th) sampling after a global value ordering —
    the stratified-by-rank design that guarantees coverage of the full
    value range (head, body, and tail), unlike Bernoulli sampling
    which can miss sparse strata.  The global position — the scale
    hazard — comes from the two-pass range-partitioned row_number
    (`operators/scale.ranged_row_number`), never a single-partition
    window; the oracle states the same semantics with a plain global
    window.  Selection `pos % 97 == 1` is exact integer arithmetic
    on a deterministic total order (value, then unique key)."""
    from ..operators.scale import ranged_row_number

    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    ranked = ranged_row_number(
        li,
        [
            F.col("l_extendedprice"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ],
        "pos",
    )
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.col("pos").cast("long").alias("pos"),
    ).filter(F.col("pos") % 97 == 1)


@query(
    "rfm_segmentation",
    "analytics/window",
    oracle="""
    WITH cust AS (
        SELECT o_custkey,
               CAST(date_diff('day', max(o_orderdate)::TIMESTAMP,
                              TIMESTAMP '2001-09-01 00:00:00')
                    AS BIGINT) AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS monetary_cents
        FROM orders GROUP BY 1
    ), scored AS (
        SELECT o_custkey, recency_days, frequency, monetary_cents,
               CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey)
                    AS BIGINT) AS r_score,
               CAST(ntile(5) OVER (ORDER BY frequency, o_custkey)
                    AS BIGINT) AS f_score,
               CAST(ntile(5) OVER (ORDER BY monetary_cents, o_custkey)
                    AS BIGINT) AS m_score
        FROM cust
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS segment_cents,
           CAST(min(o_custkey) AS BIGINT) AS example_cust
    FROM scored
    GROUP BY 1, 2, 3
    """,
)
def rfm_segmentation(spark, sf_dir):
    """RFM (recency / frequency / monetary) customer segmentation —
    the marketing-analytics staple: quintile-score each dimension with
    ntile over a DETERMINISTIC total order (metric, then customer key
    — unkeyed ntile ties are engine-dependent, §7.3-H7), then roll up
    the 125 segments.  Recency is exact integer days from a pinned
    anchor date; money stays in integer cents.  At 100 TB the
    customer-grain aggregate shuffles once; the three ntile windows
    run over the |customers| relation — and each can fall back to the
    integer-exact `ntile_from_row_number` + `ranged_row_number`
    two-pass form (operators/scale.py) when even that no longer fits
    one partition."""
    o = table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-09-01").cast("timestamp"), F.max("o_orderdate")
        )
        .cast("long")
        .alias("recency_days"),
        F.count("*").cast("long").alias("frequency"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    scored = cust.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        F.ntile(5)
        .over(Window.orderBy(F.desc("recency_days"), F.asc("o_custkey")))
        .cast("long")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy("frequency", "o_custkey"))
        .cast("long")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy("monetary_cents", "o_custkey"))
        .cast("long")
        .alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("segment_cents"),
        F.min("o_custkey").cast("long").alias("example_cust"),
    )


@query(
    "entity_resolution_groups",
    "LLM-pipeline/join",
    oracle="""
    WITH RECURSIVE names AS (
        SELECT p_name, CAST(min(p_partkey) AS BIGINT) AS nid,
               CAST(count(*) AS BIGINT) AS n_parts
        FROM part GROUP BY p_name
    ), b AS (
        SELECT p_name, nid, split_part(p_name, ' ', 2) AS noun FROM names
    ), edges AS (
        SELECT a.nid AS d1, c.nid AS d2
        FROM b a JOIN b c ON a.noun = c.noun AND a.p_name < c.p_name
        WHERE levenshtein(a.p_name, c.p_name) <= 3
    ), sym AS (
        SELECT d1 AS u, d2 AS v FROM edges
        UNION SELECT d2, d1 FROM edges
    ), reach(node, lab) AS (
        SELECT u, u FROM sym
        UNION
        SELECT s.u, r.lab FROM sym s JOIN reach r ON s.v = r.node
    ), cc AS (
        SELECT node, CAST(min(lab) AS BIGINT) AS gid
        FROM reach GROUP BY node
    )
    SELECT COALESCE(cc.gid, n.nid) AS group_id,
           CAST(count(*) AS BIGINT) AS n_names,
           CAST(sum(n.n_parts) AS BIGINT) AS n_parts,
           min(n.p_name) AS canonical_name
    FROM names n LEFT JOIN cc ON n.nid = cc.node
    GROUP BY 1
    """,
)
def entity_resolution_groups(spark, sf_dir):
    """End-to-end entity resolution: block (head noun) -> score
    (Levenshtein <= 3 on distinct names) -> transitively merge
    (iterative min-label connected components,
    operators/dedup.connected_components) -> emit match GROUPS with
    their canonical name, singletons included — the full
    record-linkage pipeline as one graded unit, against a
    recursive-CTE closure oracle.  Name-ids are min(p_partkey) per
    distinct name, so labels are deterministic.  At 100 TB: the
    candidate step is the blocked fuzzy join
    (fuzzy_join_blocked_levenshtein's shape), CC is O(diameter)
    join+groupBy rounds with per-round checkpoints, and the final
    rollup shuffles on group id."""
    from ..operators.dedup import connected_components

    p = table(spark, sf_dir, "part")
    names = p.groupBy("p_name").agg(
        F.min("p_partkey").cast("long").alias("nid"),
        F.count("*").cast("long").alias("n_parts"),
    )
    b = names.select(
        "p_name",
        "nid",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
    )
    a, c = b.alias("a"), b.alias("c")
    edges = (
        a.join(
            c,
            (F.col("a.noun") == F.col("c.noun"))
            & (F.col("a.p_name") < F.col("c.p_name")),
        )
        .filter(F.levenshtein(F.col("a.p_name"), F.col("c.p_name")) <= 3)
        .select(F.col("a.nid").alias("d1"), F.col("c.nid").alias("d2"))
    )
    cc = connected_components(edges).select(
        F.col("node").alias("nid"), F.col("cluster_id").alias("gid")
    )
    return (
        names.join(cc, "nid", "left")
        .select(
            F.coalesce(F.col("gid"), F.col("nid")).alias("group_id"),
            "p_name",
            "n_parts",
        )
        .groupBy("group_id")
        .agg(
            F.count("*").cast("long").alias("n_names"),
            F.sum("n_parts").cast("long").alias("n_parts"),
            F.min("p_name").alias("canonical_name"),
        )
    )


@query(
    "spatial_grid_join",
    "join",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS id,
               CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                                            || 'x'), 1, 5))::INTEGER
                    AS BIGINT) % 10000 AS x,
               CAST(('0x' || substring(md5(CAST(c_custkey AS VARCHAR)
                                            || 'y'), 1, 5))::INTEGER
                    AS BIGINT) % 10000 AS y
        FROM customer WHERE c_custkey < 2000
    )
    SELECT a.id AS id1, b.id AS id2,
           CAST((a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE (a.x - b.x) * (a.x - b.x)
          + (a.y - b.y) * (a.y - b.y) <= 2500
    """,
)
def spatial_grid_join(spark, sf_dir):
    """Spatial distance self-join (all point pairs within radius 50 on
    a 10000x10000 integer grid) — the ORACLE is the quadratic
    all-pairs statement; the Spark plan is the grid-cell blocking
    every spatial engine uses: hash each point to its 50x50 cell,
    replicate the probe side to the 3x3 neighborhood (radius <= cell
    size, so no pair can span further), EQUI join on the cell key,
    then the exact integer distance filter.  Coordinates derive
    deterministically from the key via the repo's cross-engine
    content-hash idiom (md5-prefix → int, salted per axis; a
    multiplicative-congruential hash was tried first and produced a
    LATTICE with zero close pairs — the classic LCG failure).  At
    100 TB cells partition
    the plane uniformly, the 9x replication is constant-factor, and a
    dense cell is ordinary join skew (AQE-split) — never an all-pairs
    scan.  The id cap keeps the ORACLE's quadratic feasible; the grid
    plan itself carries no cap."""
    cust = table(spark, sf_dir, "customer")

    def _coord(salt):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("c_custkey").cast("string"),
                                   F.lit(salt))),
                    1,
                    5,
                ),
                16,
                10,
            ).cast("long")
            % 10000
        )

    pts = cust.filter(F.col("c_custkey") < 2000).select(
        F.col("c_custkey").alias("id"),
        _coord("x").alias("x"),
        _coord("y").alias("y"),
    )
    cells = pts.select(
        "id",
        "x",
        "y",
        F.expr("CAST(x DIV 50 AS BIGINT)").alias("cx"),
        F.expr("CAST(y DIV 50 AS BIGINT)").alias("cy"),
    )
    offsets = spark.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)],
        "dx long, dy long",
    )
    probe = cells.crossJoin(F.broadcast(offsets)).select(
        F.col("id").alias("id1"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
        (F.col("cx") + F.col("dx")).alias("jcx"),
        (F.col("cy") + F.col("dy")).alias("jcy"),
    )
    build = cells.select(
        F.col("id").alias("id2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
        F.col("cx").alias("jcx"),
        F.col("cy").alias("jcy"),
    )
    dist2 = (F.col("x1") - F.col("x2")) * (F.col("x1") - F.col("x2")) + (
        F.col("y1") - F.col("y2")
    ) * (F.col("y1") - F.col("y2"))
    return (
        probe.join(build, ["jcx", "jcy"])
        .filter((F.col("id1") < F.col("id2")) & (dist2 <= 2500))
        .select("id1", "id2", dist2.cast("long").alias("dist2"))
    )


@query(
    "seasonality_dow_hour_index",
    "analytics",
    oracle="""
    WITH e AS (
        SELECT CAST(isodow(ts::TIMESTAMP) AS BIGINT) AS dow,
               CAST(extract(hour FROM ts::TIMESTAMP) AS BIGINT) AS hr,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ), cell AS (
        SELECT dow, hr,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM e GROUP BY 1, 2
    ), tot AS (
        SELECT dow, hr, n, cents,
               CAST(sum(n) OVER () AS BIGINT) AS n_all,
               CAST(sum(cents) OVER () AS BIGINT) AS cents_all
        FROM cell
    )
    SELECT dow, hr, n, cents,
           (CAST(cents AS DOUBLE) / n)
               / (CAST(cents_all AS DOUBLE) / n_all) AS seasonal_index
    FROM tot
    """,
)
def seasonality_dow_hour_index(spark, sf_dir):
    """Seasonal index per (ISO day-of-week, hour) cell: the cell's mean
    event value relative to the overall mean — the baseline
    seasonality profile behind staffing/anomaly baselines.  Counts and
    cent-sums are exact integers (window totals over the <=168-cell
    table); the index is a fixed per-row double tree.  Spark's
    Sunday-first dayofweek is shifted to ISO to match the oracle
    exactly.  At 100 TB this is one cell aggregate with map-side
    collapse plus window sums over 168 rows."""
    e = table(spark, sf_dir, "events")
    cell = (
        e.select(
            F.expr("CAST((dayofweek(ts_us) + 5) % 7 + 1 AS BIGINT)").alias(
                "dow"
            ),
            F.hour("ts_us").cast("long").alias("hr"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("dow", "hr")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )
    w = Window.partitionBy()
    tot = cell.select(
        "dow",
        "hr",
        "n",
        "cents",
        F.sum("n").over(w).cast("long").alias("n_all"),
        F.sum("cents").over(w).cast("long").alias("cents_all"),
    )
    return tot.select(
        "dow",
        "hr",
        "n",
        "cents",
        (
            (F.col("cents").cast("double") / F.col("n"))
            / (F.col("cents_all").cast("double") / F.col("n_all"))
        ).alias("seasonal_index"),
    )


@query(
    "streak_three_declines",
    "window/sequence",
    oracle="""
    WITH e AS (
        SELECT user_id, event_id, ts::TIMESTAMP AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ), lagged AS (
        SELECT user_id, event_id, cents,
               lag(cents, 1) OVER w AS c1,
               lag(cents, 2) OVER w AS c2,
               lag(cents, 3) OVER w AS c3
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), flagged AS (
        SELECT user_id, event_id
        FROM lagged
        WHERE cents < c1 AND c1 < c2 AND c2 < c3
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_decline_runs,
           CAST(min(event_id) AS BIGINT) AS first_decline_event
    FROM flagged
    GROUP BY user_id
    """,
)
def streak_three_declines(spark, sf_dir):
    """Sequence-pattern detection: rows completing THREE consecutive
    strict declines in a user's value series (the MATCH_RECOGNIZE
    /ILIKE pattern engines express with lag chains) — fraud/health
    monitoring's 'sustained drop' trigger.  Exact integer-cents
    comparisons over one ordered window per user; NULL lags at the
    partition head make the conjunction three-valued-false, exactly
    the semantics both engines share.  At 100 TB: one window shuffle
    on user, one aggregate."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    cents = F.floor(F.col("value") * 100).cast("long")
    lagged = e.select(
        "user_id",
        "event_id",
        cents.alias("cents"),
        F.lag(cents, 1).over(w).alias("c1"),
        F.lag(cents, 2).over(w).alias("c2"),
        F.lag(cents, 3).over(w).alias("c3"),
    )
    return (
        lagged.filter(
            (F.col("cents") < F.col("c1"))
            & (F.col("c1") < F.col("c2"))
            & (F.col("c2") < F.col("c3"))
        )
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_decline_runs"),
            F.min("event_id").cast("long").alias("first_decline_event"),
        )
    )


@query(
    "hierarchy_share_rollup",
    "analytics/join",
    oracle="""
    WITH spend AS (
        SELECT c.c_nationkey,
               CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ), nat AS (
        SELECT n.n_name AS nation, r.r_name AS region, s.cents
        FROM spend s
        JOIN nation n ON s.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    ), tot AS (
        SELECT nation, region, cents,
               CAST(sum(cents) OVER (PARTITION BY region) AS BIGINT)
                   AS region_cents,
               CAST(sum(cents) OVER () AS BIGINT) AS total_cents
        FROM nat
    )
    SELECT nation, region, cents AS nation_cents, region_cents,
           CAST(cents AS DOUBLE) / region_cents AS share_of_region,
           CAST(region_cents AS DOUBLE) / total_cents
               AS region_share_of_total
    FROM tot
    """,
)
def hierarchy_share_rollup(spark, sf_dir):
    """Percent-of-parent at every level of the region > nation
    hierarchy — the drill-down share computation every BI rollup
    needs, done as integer-cent sums with window totals at each
    hierarchy level and per-row double divisions at the end (no
    float re-aggregation between levels).  At 100 TB the fact
    aggregate shuffles once to nation grain (~25 rows); the dims
    broadcast; the shares are windows over the tiny rollup."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    nat = (
        spend.join(
            F.broadcast(n), spend.c_nationkey == n.n_nationkey
        )
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select(
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "cents",
        )
    )
    tot = nat.select(
        "nation",
        "region",
        "cents",
        F.sum("cents")
        .over(Window.partitionBy("region"))
        .cast("long")
        .alias("region_cents"),
        F.sum("cents").over(Window.partitionBy()).cast("long").alias(
            "total_cents"
        ),
    )
    return tot.select(
        "nation",
        "region",
        F.col("cents").alias("nation_cents"),
        "region_cents",
        (F.col("cents").cast("double") / F.col("region_cents")).alias(
            "share_of_region"
        ),
        (F.col("region_cents").cast("double") / F.col("total_cents")).alias(
            "region_share_of_total"
        ),
    )


@query(
    "max_concurrent_sessions",
    "analytics/window",
    oracle="""
    WITH iv AS (
        SELECT epoch_us(ts::TIMESTAMP) AS s,
               epoch_us(ts::TIMESTAMP) + 1800000000 AS e
        FROM events
    ), pts AS (
        SELECT s AS t, 1 AS delta FROM iv
        UNION ALL
        SELECT e AS t, -1 AS delta FROM iv
    ), swept AS (
        SELECT t, CAST(sum(delta) AS BIGINT) AS d
        FROM pts GROUP BY t
    ), run AS (
        SELECT t, CAST(sum(d) OVER (ORDER BY t) AS BIGINT) AS concurrent
        FROM swept
    )
    SELECT CAST(max(concurrent) AS BIGINT) AS peak_concurrent,
           CAST(min(CASE WHEN concurrent =
                              (SELECT max(concurrent) FROM run)
                         THEN t END) AS BIGINT) AS first_peak_t_us
    FROM run
    """,
)
def max_concurrent_sessions(spark, sf_dir):
    """Peak concurrency by SWEEP-LINE: each event opens a 30-minute
    half-open activity interval [t, t+30m); +1/-1 deltas collapse
    per distinct instant (same-instant end+start cancel — the
    half-open semantics, stated identically in both engines), a
    running sum walks the timeline, and the peak with its first
    attaining instant falls out.  The global ordered prefix sum — the
    single-partition trap — runs through the two-pass range-partitioned
    `ranged_running_sum` (per-range partials broadcast as offsets);
    the oracle states the plain global window.  Exact integer µs and
    counts throughout.  At 100 TB: one groupBy on instants, one
    range-partitioned scan, one tiny aggregate."""
    from ..operators.scale import ranged_running_sum

    e = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts_us"))
    starts = e.select(us.alias("t"), F.lit(1).alias("delta"))
    ends = e.select(
        (us + F.lit(1_800_000_000)).alias("t"), F.lit(-1).alias("delta")
    )
    swept = (
        starts.unionAll(ends)
        .groupBy("t")
        .agg(F.sum("delta").cast("long").alias("d"))
    )
    run = ranged_running_sum(swept, [F.col("t")], "d", "concurrent")
    peak = run.agg(F.max("concurrent").cast("long").alias("peak"))
    return (
        run.crossJoin(F.broadcast(peak))
        .agg(
            F.max("concurrent").cast("long").alias("peak_concurrent"),
            F.min(
                F.when(F.col("concurrent") == F.col("peak"), F.col("t"))
            )
            .cast("long")
            .alias("first_peak_t_us"),
        )
    )


@query(
    "topn_percent_with_ties",
    "window/limit",
    oracle="""
    WITH r AS (
        SELECT o_orderkey, o_totalprice,
               CAST(rank() OVER (ORDER BY o_totalprice DESC) AS BIGINT)
                   AS rnk,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM orders
    )
    SELECT o_orderkey, o_totalprice, rnk
    FROM r
    WHERE rnk <= (n + 99) // 100
    """,
)
def topn_percent_with_ties(spark, sf_dir):
    """Top 1% of orders by value WITH TIES (ANSI ``FETCH FIRST k ROWS
    WITH TIES`` ≙ ``rank() <= k``): ordering deliberately has NO
    tiebreak column, because rank() gives tied values the same rank
    and the <=k predicate keeps every boundary tie — the result SET is
    deterministic even though row order is not, which is exactly what
    WITH TIES is for (and what a row_number cutoff gets wrong).
    k = ceil(n/100) in exact integer arithmetic.  At 100 TB the rank
    falls back to the two-pass ranged form; at any scale this plans
    as one window pass, no global limit."""
    o = table(spark, sf_dir, "orders")
    r = o.select(
        "o_orderkey",
        "o_totalprice",
        F.rank()
        .over(Window.orderBy(F.desc("o_totalprice")))
        .cast("long")
        .alias("rnk"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    return (
        r.filter(F.col("rnk") <= F.expr("CAST((n + 99) DIV 100 AS BIGINT)"))
        .select("o_orderkey", "o_totalprice", "rnk")
    )


@query(
    "funnel_time_to_convert",
    "analytics",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us
        FROM events
    ), v AS (
        SELECT user_id, min(us) AS t_view
        FROM ev WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
        SELECT e.user_id, min(e.us) AS t_buy
        FROM ev e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase' AND e.us > v.t_view
        GROUP BY e.user_id
    ), dt AS (
        SELECT p.t_buy - v.t_view AS dt_us
        FROM p JOIN v ON p.user_id = v.user_id
    ), ranked AS (
        SELECT dt_us,
               CAST(row_number() OVER (ORDER BY dt_us) AS BIGINT) AS rn,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM dt
    )
    SELECT CAST(max(n) AS BIGINT) AS n_converted,
           CAST(min(dt_us) AS BIGINT) AS min_dt_us,
           CAST(min(CASE WHEN 2 * rn >= n + 1 THEN dt_us END)
                AS BIGINT) AS median_dt_us,
           CAST(max(dt_us) AS BIGINT) AS max_dt_us
    FROM ranked
    """,
)
def funnel_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution (first view -> first later
    purchase): the latency companion to the funnel counts — n, min,
    EXACT lower-median, max of the per-user conversion delay, all in
    exact integer µs (nearest-rank median via 2*rn >= n+1, no float
    quantile).  At 100 TB the per-user frontier is |users|-sized
    after the first aggregate and the median falls back to the
    range-partitioned exact-median operator."""
    e = table(spark, sf_dir, "events")
    ev = e.select(
        "user_id", "event_type", F.unix_micros(F.col("ts_us")).alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_buy"))
    )
    dt = p.join(v, "user_id").select(
        (F.col("t_buy") - F.col("t_view")).alias("dt_us")
    )
    ranked = dt.select(
        "dt_us",
        F.row_number()
        .over(Window.orderBy("dt_us"))
        .cast("long")
        .alias("rn"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_converted"),
        F.min("dt_us").cast("long").alias("min_dt_us"),
        F.min(F.when(2 * F.col("rn") >= F.col("n") + 1, F.col("dt_us")))
        .cast("long")
        .alias("median_dt_us"),
        F.max("dt_us").cast("long").alias("max_dt_us"),
    )


@query(
    "heavy_hitters_two_phase",
    "LLM-pipeline/scale",
    oracle="""
    WITH sw AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                   ::INTEGER AS BIGINT) % 4 = 0
    ), n AS (
        SELECT CAST(count(*) AS BIGINT) AS nd FROM sw
    ), sbg AS (
        SELECT unnest(list_transform(generate_series(1, len(w) - 1),
               i -> list_extract(w, i) || ' ' || list_extract(w, i + 1)))
               AS g
        FROM sw
    ), cand AS (
        SELECT g, CAST(count(*) AS BIGINT) AS sample_cnt
        FROM sbg GROUP BY g
        HAVING count(*) * 16 >= (SELECT nd FROM n)
    ), fbg AS (
        SELECT unnest(list_transform(generate_series(1, len(w) - 1),
               i -> list_extract(w, i) || ' ' || list_extract(w, i + 1)))
               AS g
        FROM (SELECT string_split(text, ' ') AS w FROM documents)
    )
    SELECT c.g AS bigram, c.sample_cnt,
           CAST(count(*) AS BIGINT) AS exact_cnt
    FROM fbg f JOIN cand c ON f.g = c.g
    GROUP BY c.g, c.sample_cnt
    """,
)
def heavy_hitters_two_phase(spark, sf_dir):
    """Heavy-hitter detection the way a 100 TB pipeline runs it — the
    sketch-then-verify two-phase: phase 1 counts shingles over a
    DETERMINISTIC 25% doc sample (md5 content-hash bucket, not
    rand(), so both engines and every rerun pick the same sample)
    and keeps those above a frequency-proportional threshold
    (count*16 >= sampled_docs); phase 2 rescans the FULL corpus for
    exact counts of only those candidates, broadcast into the stream
    as a semi-filter.  The sample phase touches 1/4 of the data and
    the exact phase aggregates only |candidates| keys — the
    top-frequency table without ever shuffling the full shingle
    stream's long tail."""
    d = table(spark, sf_dir, "documents").withColumn(
        # materialize the split once per row; the inline
        # element_at(split(...), i) form re-splits per element
        "_w", F.split("text", " ")
    )
    bigrams = word_bigram_array(F.col("_w"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 4
    )
    sample = d.filter(bucket == 0)
    nd = sample.agg(F.count("*").cast("long").alias("nd"))
    sbg = sample.select(F.explode(bigrams).alias("g"))
    cand = (
        sbg.groupBy("g")
        .agg(F.count("*").cast("long").alias("sample_cnt"))
        .crossJoin(F.broadcast(nd))
        .filter(F.col("sample_cnt") * 16 >= F.col("nd"))
        .select("g", "sample_cnt")
    )
    fbg = d.select(F.explode(bigrams).alias("g"))
    return (
        fbg.join(F.broadcast(cand), "g")
        .groupBy(F.col("g").alias("bigram"), F.col("sample_cnt"))
        .agg(F.count("*").cast("long").alias("exact_cnt"))
    )


@query(
    "window_groups_frame_emulated",
    "window frame",
    oracle="""
    WITH x AS (
        SELECT l_returnflag AS flag,
               CAST(floor(l_quantity) AS BIGINT) AS qty,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ), pp AS (
        SELECT flag, qty,
               CAST(sum(cents) AS BIGINT) AS gc,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM x GROUP BY 1, 2
    )
    SELECT flag, qty,
           CAST(sum(gc) OVER (PARTITION BY flag ORDER BY qty
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS group_frame_sum,
           n_rows
    FROM pp
    """,
)
def window_groups_frame_emulated(spark, sf_dir):
    """GROUPS window frames (sum over the current + 2 preceding
    DISTINCT-value groups) — a frame mode NEITHER engine here
    implements (Spark has no GROUPS; this DuckDB build parses but
    rejects it).  The engine bridges the gap exactly:
    ``dense_rank`` converts value groups to consecutive integers, and
    an integer RANGE frame over the dense rank IS the GROUPS frame
    (every peer row shares the rank, every adjacent group is
    rank-distance 1).  The oracle derives the same semantics a THIRD
    way — collapse to one row per group, then a plain ROWS frame — so
    the check is a genuine equivalence proof of the rewrite, in exact
    integer cents.  At 100 TB both windows shuffle once on the same
    partition key (and the oracle's collapse form is also the cheaper
    plan when per-row output isn't needed)."""
    li = table(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_quantity")).cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    w_rank = Window.partitionBy("flag").orderBy("qty")
    ranked = x.withColumn("dr", F.dense_rank().over(w_rank).cast("long"))
    w_frame = (
        Window.partitionBy("flag")
        .orderBy("dr")
        .rangeBetween(-2, Window.currentRow)
    )
    g = ranked.withColumn("gsum", F.sum("cents").over(w_frame).cast("long"))
    return g.groupBy("flag", "qty").agg(
        F.max("gsum").cast("long").alias("group_frame_sum"),
        F.count("*").cast("long").alias("n_rows"),
    )


@query(
    "percentiles_by_group_exact",
    "aggregation/robust",
    oracle="""
    WITH pp AS (
        SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS w
        FROM events GROUP BY 1, 2
    ), cum AS (
        SELECT event_type, cents, w,
               CAST(sum(w) OVER (PARTITION BY event_type ORDER BY cents)
                    AS BIGINT) AS cw,
               CAST(sum(w) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM pp
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN 100 * cw >= 50 * n THEN cents END)
                AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN 100 * cw >= 90 * n THEN cents END)
                AS BIGINT) AS p90_cents,
           CAST(min(CASE WHEN 100 * cw >= 99 * n THEN cents END)
                AS BIGINT) AS p99_cents
    FROM cum GROUP BY event_type
    """,
)
def percentiles_by_group_exact(spark, sf_dir):
    """EXACT p50/p90/p99 per group (the per-endpoint latency-SLO
    shape) — nearest-rank percentiles in pure integer arithmetic:
    collapse to distinct cent values with weights, one cumulative
    window per group, and the selection predicate ``100*cw >= q*n``
    (no float quantile, no interpolation ambiguity between engines).
    Complements the GLOBAL exact-percentile operator
    (percentiles_exact_scalable); here the partition key is the
    group, so the window never needs the two-pass form — per-group
    value compression bounds each partition at |distinct values|.
    At 100 TB: one groupBy + one window, both on event_type."""
    e = table(spark, sf_dir, "events")
    pp = (
        e.select(
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count("*").cast("long").alias("w"))
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = pp.select(
        "event_type",
        "cents",
        F.sum("w").over(w_cum).cast("long").alias("cw"),
        F.sum("w").over(Window.partitionBy("event_type")).cast("long").alias(
            "n"
        ),
    )

    def pick(q):
        return F.min(
            F.when(100 * F.col("cw") >= q * F.col("n"), F.col("cents"))
        ).cast("long")

    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        pick(50).alias("p50_cents"),
        pick(90).alias("p90_cents"),
        pick(99).alias("p99_cents"),
    )


@query(
    "session_bounce_depth",
    "stream-analogue/analytics",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ), sess AS (
        SELECT user_id,
               CAST(sum(is_new) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id)
                    AS BIGINT) AS session_id
        FROM flagged
    ), depth AS (
        SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS depth
        FROM sess GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(count(*) FILTER (WHERE depth = 1) AS BIGINT) AS n_bounces,
           CASE WHEN count(*) > 0
                THEN CAST(CAST(count(*) FILTER (WHERE depth = 1) AS DOUBLE)
                          / count(*) AS DOUBLE)
           END AS bounce_rate,
           CAST(max(depth) AS BIGINT) AS max_depth,
           CAST(sum(depth) AS BIGINT) AS total_events
    FROM depth
    """,
)
def session_bounce_depth(spark, sf_dir):
    """Session bounce rate and depth profile: sessionize (30-min gap),
    then the one-event-session share — web analytics' headline
    engagement metric — plus depth extremes, all exact integers with
    a single final division.  At 100 TB one window shuffle on user,
    one aggregate (the depth table is |sessions|-sized)."""
    e = table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("us", "event_id")
    base = e.select(
        "user_id", "event_id", F.unix_micros(F.col("ts_us")).alias("us")
    )
    flagged = base.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(order).isNull()
            | (F.col("us") - F.lag("us").over(order) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    depth = (
        flagged.select(
            "user_id",
            F.sum("is_new").over(order).cast("long").alias("session_id"),
        )
        .groupBy("user_id", "session_id")
        .agg(F.count("*").cast("long").alias("depth"))
    )
    return depth.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.count(F.when(F.col("depth") == 1, 1)).cast("long").alias(
            "n_bounces"
        ),
        # guarded: an EMPTY events table still emits this one aggregate
        # row, and 0/0 under ANSI mode is an ArithmeticException
        F.when(
            F.count("*") > 0,
            (
                F.count(F.when(F.col("depth") == 1, 1)).cast("double")
                / F.count("*")
            ).cast("double"),
        ).alias("bounce_rate"),
        F.max("depth").cast("long").alias("max_depth"),
        F.sum("depth").cast("long").alias("total_events"),
    )


@query(
    "distinct_users_bitmap_exact",
    "aggregation/scale",
    oracle="""
    WITH b AS (
        SELECT event_type,
               user_id // 62 AS chunk,
               CAST(bit_or(1::BIGINT << CAST(user_id % 62 AS INTEGER))
                    AS BIGINT) AS bm
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(bit_count(bm)) AS BIGINT) AS n_distinct_users
    FROM b GROUP BY 1
    """,
)
def distinct_users_bitmap_exact(spark, sf_dir):
    """EXACT distinct counting via bitmap chunks — the
    roaring-bitmap-style technique that replaces count(DISTINCT)'s
    expand shuffle when ids are dense integers: OR together 62-bit
    masks per (group, id-chunk) with map-side partial combine, then
    popcount.  Every step is exact integer bitwise arithmetic
    (62 bits per chunk keeps the shift off the sign bit on both
    engines).  vs count(DISTINCT): the shuffle carries one long per
    (group, chunk) instead of one row per (group, id) — at 100 TB
    with dense user ids that is a ~62x reduction, and the bitmaps
    merge associatively (mergeable across days, the same property the
    HLL rolling query exploits — but exact)."""
    e = table(spark, sf_dir, "events")
    b = (
        e.select(
            "event_type",
            F.expr("CAST(user_id DIV 62 AS BIGINT)").alias("chunk"),
            F.expr(
                "shiftleft(1L, CAST(user_id % 62 AS INT))"
            ).alias("mask"),
        )
        .groupBy("event_type", "chunk")
        .agg(F.bit_or("mask").cast("long").alias("bm"))
    )
    return b.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.bit_count("bm")).cast("long").alias("n_distinct_users"),
    )


@query(
    "join_null_skew_salted",
    "join/scale",
    oracle="""
    WITH o AS (
        SELECT o_orderkey,
               CASE WHEN o_custkey % 7 = 0 THEN NULL
                    ELSE o_custkey END AS k,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CASE WHEN c.c_custkey IS NULL THEN 'unmatched'
                ELSE 'matched' END AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(o.cents) AS BIGINT) AS cents
    FROM o LEFT JOIN customer c ON o.k = c.c_custkey
    GROUP BY 1
    """,
)
def join_null_skew_salted(spark, sf_dir):
    """The NULL-key join-skew lever: outer-join fact rows whose join
    key is NULL can never match, yet a naive plan hashes them ALL
    into one shuffle bucket — at 100 TB the null bucket is the
    straggler task.  The engine disperses them BEFORE the join by
    replacing NULL keys with per-row negative sentinels
    (``-(1 + pmod(hash(pk), 32))`` — 32 buckets, provably disjoint
    from the dimension's nonnegative keys), which preserves LEFT-join
    semantics bit-for-bit while spreading the dead weight across the
    cluster.  The oracle states the plain left join; the hash-match
    proves the rewrite's equivalence."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    k = F.when(
        F.col("o_custkey") % 7 == 0, F.lit(None).cast("long")
    ).otherwise(F.col("o_custkey"))
    fact = o.select(
        "o_orderkey",
        k.alias("k"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).withColumn(
        "k_salted",
        F.coalesce(
            F.col("k"),
            -(F.lit(1) + F.pmod(F.hash("o_orderkey"), F.lit(32))).cast(
                "long"
            ),
        ),
    )
    joined = fact.join(c, fact.k_salted == c.c_custkey, "left")
    return (
        joined.select(
            F.when(F.col("c_custkey").isNull(), "unmatched")
            .otherwise("matched")
            .alias("status"),
            "cents",
        )
        .groupBy("status")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


@query(
    "approx_topk_misra_gries",
    "LLM-pipeline/scale",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS item FROM documents
    ), n AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM toks
    )
    SELECT item, CAST(count(*) AS BIGINT) AS cnt
    FROM toks CROSS JOIN n
    GROUP BY item, n.n
    HAVING count(*) * 32 > n.n
    """,
)
def approx_topk_misra_gries(spark, sf_dir):
    """Heavy hitters via per-partition Misra–Gries summaries
    (operators/sketch.py): a bounded-memory (k=32 counters) stream
    pass per partition whose UNION provably contains every item with
    global count > N/32 (sum argument across partitions), followed by
    an exact count of only the candidates.  The intermediate
    candidate set depends on partitioning — but the final
    ``count*32 > N`` filter trims it to EXACTLY the true heavy-hitter
    set, which is why a plain SQL oracle can check a
    partition-dependent sketch pipeline end-to-end.  vs the two-phase
    sampling sketch (heavy_hitters_two_phase): MG never misses a
    heavy item by sampling luck — its guarantee is deterministic.  At
    100 TB the first pass shuffles nothing and the exact pass
    aggregates |candidates| keys."""
    from ..operators.sketch import misra_gries_candidates

    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("item"))
    cand = misra_gries_candidates(toks, "item", k=32)
    n = toks.agg(F.count("*").cast("long").alias("n"))
    return (
        toks.join(F.broadcast(cand), "item")
        .groupBy("item")
        .agg(F.count("*").cast("long").alias("cnt"))
        .crossJoin(F.broadcast(n))
        .filter(F.col("cnt") * 32 > F.col("n"))
        .select("item", "cnt")
    )


@query(
    "lineitem_order_reconciliation",
    "data-quality",
    oracle="""
    WITH li AS (
        SELECT l_orderkey,
               CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS line_cents
        FROM lineitem GROUP BY 1
    ), rec AS (
        SELECT o.o_orderkey,
               CAST(floor(o.o_totalprice * 100) AS BIGINT) AS order_cents,
               COALESCE(li.line_cents, 0) AS line_cents
        FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT CASE
             WHEN line_cents = 0 THEN 'no_lines'
             WHEN 100 * abs(order_cents - line_cents)
                  <= 5 * order_cents THEN 'within_5pct'
             WHEN 100 * abs(order_cents - line_cents)
                  <= 25 * order_cents THEN 'within_25pct'
             ELSE 'divergent'
           END AS bucket,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(abs(order_cents - line_cents)) AS BIGINT)
               AS abs_gap_cents
    FROM rec GROUP BY 1
    """,
)
def lineitem_order_reconciliation(spark, sf_dir):
    """Fact-to-fact reconciliation — the warehouse consistency check:
    per order, the lineitem extended-price roll-up vs the order
    header total, bucketed by relative gap in EXACT integer cents
    (the tolerance test ``100*|gap| <= pct*total`` is pure integer
    arithmetic — no float ratio, no rounding boundary).  Headers
    without lines survive via the left join.  At 100 TB: one
    order-grain aggregate co-keyed with the join, one 4-row rollup."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    lsum = li.groupBy("l_orderkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("line_cents")
    )
    rec = (
        o.select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("order_cents"),
        )
        .join(lsum, o.o_orderkey == lsum.l_orderkey, "left")
        .select(
            "order_cents",
            F.coalesce(F.col("line_cents"), F.lit(0)).alias("line_cents"),
        )
    )
    gap = F.abs(F.col("order_cents") - F.col("line_cents"))
    bucket = (
        F.when(F.col("line_cents") == 0, "no_lines")
        .when(100 * gap <= 5 * F.col("order_cents"), "within_5pct")
        .when(100 * gap <= 25 * F.col("order_cents"), "within_25pct")
        .otherwise("divergent")
    )
    return rec.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(gap).cast("long").alias("abs_gap_cents"),
    )


@query(
    "window_moving_median",
    "window frame",
    oracle="""
    WITH x AS (
        SELECT user_id, event_id, ts::TIMESTAMP AS ts_us,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ), framed AS (
        SELECT user_id, event_id,
               list_sort(list(cents) OVER (
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
        FROM x
    )
    SELECT user_id, event_id,
           CAST(win[(len(win) + 1) // 2] AS BIGINT) AS med_cents
    FROM framed
    """,
)
def window_moving_median(spark, sf_dir):
    """EXACT moving median (trailing 7-row window per user) — the
    robust sliding statistic a mean-based moving average can't give.
    No engine has a windowed exact median, so BOTH construct it the
    same way: collect the frame into an array, sort, take the lower
    median element ``(n+1)//2`` — exact integer cents, deterministic
    at partition heads where the frame is short.  The frame is a
    bounded 7 elements, so the array trick costs O(7 log 7) per row
    and never materializes unbounded state.  At 100 TB: one window
    shuffle on the key."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    framed = e.select(
        "user_id",
        "event_id",
        F.array_sort(
            F.collect_list(
                F.floor(F.col("value") * 100).cast("long")
            ).over(w)
        ).alias("win"),
    )
    return framed.select(
        "user_id",
        "event_id",
        F.element_at(
            F.col("win"), ((F.size("win") + 1) / 2).cast("int")
        )
        .cast("long")
        .alias("med_cents"),
    )


@query(
    "dedup_drop_contained",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        )
    ), sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM toks GROUP BY 1
    ), w AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> list_extract(w, i) || ' ' ||
                               list_extract(w, i + 1))) AS g
            FROM w
        )
    ), cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
    ), inter AS (
        SELECT c.d1, c.d2, CAST(count(*) AS BIGINT) AS ov
        FROM cand c
        JOIN toks t1 ON t1.doc_id = c.d1
        JOIN toks t2 ON t2.doc_id = c.d2 AND t2.tok = t1.tok
        GROUP BY 1, 2
    ), dropped AS (
        SELECT DISTINCT CASE WHEN s1.sz < s2.sz THEN i.d1
                             WHEN s2.sz < s1.sz THEN i.d2
                             ELSE greatest(i.d1, i.d2) END AS doc_id
        FROM inter i
        JOIN sizes s1 ON i.d1 = s1.doc_id
        JOIN sizes s2 ON i.d2 = s2.doc_id
        WHERE i.ov = least(s1.sz, s2.sz)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE doc_id IN
                                 (SELECT doc_id FROM dropped))
                AS BIGINT) AS n_dropped,
           CAST(count(*) FILTER (WHERE doc_id NOT IN
                                 (SELECT doc_id FROM dropped))
                AS BIGINT) AS n_kept
    FROM documents
    """,
)
def dedup_drop_contained(spark, sf_dir):
    """The containment SHIP step: drop every document whose token set
    is fully contained in another's (the strictly smaller side; exact
    ties drop the larger id so exactly one of an identical pair
    survives) — the quote/boilerplate complement to
    dedup_keep_canonical's resemblance clusters.  Candidates and the
    integer-exact subset test are the containment query's; the drop
    rule is a deterministic CASE, and the result is the corpus
    partition count (kept + dropped = all).  At 100 TB the drop set
    is an anti-join key list, exactly like the canonical-doc ship.

    Plan note (round-8 VERDICT task 4): the candidate index
    degenerates on this fixture (931 distinct bigrams, 82 % of all
    pairs share one — see operators/bitset.py), so both the
    candidate rule AND the containment test run in the packed-bitset
    blocked kernel: per doc, a bigram bitset (candidates = inter ≥ 1)
    and a dictionary-exact token bitset (containment ⟺ token inter
    == min(token sz) — one binary matmul per bucket-pair, integer-
    exact, no hashing).  The kernel emits only the contained pairs;
    the drop rule and the anti-join stay in SQL."""
    d, contained = _bigram_candidate_pairs(
        spark, sf_dir,
        lambda inter, sz1, sz2, least, greatest: (
            inter["tk"] == least(sz1["tk"], sz2["tk"])),
    )
    dropped = contained.select(
        F.when(F.col("tk_sz1") < F.col("tk_sz2"), F.col("d1"))
        .when(F.col("tk_sz2") < F.col("tk_sz1"), F.col("d2"))
        .otherwise(F.greatest("d1", "d2"))
        .alias("doc_id")
    ).distinct()
    marked = d.select("doc_id").join(
        dropped.withColumn("is_dropped", F.lit(1)), "doc_id", "left"
    )
    return marked.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count(F.when(F.col("is_dropped").isNotNull(), 1))
        .cast("long")
        .alias("n_dropped"),
        F.count(F.when(F.col("is_dropped").isNull(), 1))
        .cast("long")
        .alias("n_kept"),
    )


@query(
    "event_out_of_order_rate",
    "data-quality",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id,
               lag(event_id) OVER (PARTITION BY user_id
                                   ORDER BY ts::TIMESTAMP, event_id)
                   AS prev_id
        FROM events
    )
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE prev_id > event_id) AS BIGINT)
               AS n_inversions,
           CASE WHEN count(*) > 0
                THEN CAST(CAST(count(*) FILTER (WHERE prev_id > event_id)
                               AS DOUBLE) / count(*) AS DOUBLE)
           END AS inversion_rate
    FROM seq
    """,
)
def event_out_of_order_rate(spark, sf_dir):
    """Arrival-order integrity: events whose assignment order
    (event_id) runs BACKWARD relative to event time within a user's
    stream — the out-of-orderness measurement that sizes streaming
    watermarks and flags clock skew.  One lag window per user, exact
    integer comparison, a single guarded division.  At 100 TB: one
    window shuffle, one aggregate."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = e.select(
        "event_id", F.lag("event_id").over(w).alias("prev_id")
    )
    inv = F.count(F.when(F.col("prev_id") > F.col("event_id"), 1))
    return seq.agg(
        F.count("*").cast("long").alias("n_events"),
        inv.cast("long").alias("n_inversions"),
        F.when(
            F.count("*") > 0,
            (inv.cast("double") / F.count("*")).cast("double"),
        ).alias("inversion_rate"),
    )


@query(
    "cumulative_distinct_users_daily",
    "analytics/window",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(min(ts::TIMESTAMP)::DATE AS DATE) AS first_day
        FROM events GROUP BY 1
    ), daily AS (
        SELECT first_day, CAST(count(*) AS BIGINT) AS new_users
        FROM firsts GROUP BY 1
    )
    SELECT first_day AS day, new_users,
           CAST(sum(new_users) OVER (ORDER BY first_day) AS BIGINT)
               AS cumulative_users
    FROM daily
    """,
)
def cumulative_distinct_users_daily(spark, sf_dir):
    """Cumulative distinct users by day — the growth-curve metric.
    The naive form (COUNT(DISTINCT) OVER an expanding day frame)
    re-scans every prior day; the engine computes it the scalable
    way: each user collapses to their FIRST day (one aggregate),
    daily new-user counts follow, and a running sum over the tiny
    |days| relation gives the cumulative curve — distinct-counting
    turned into first-touch attribution.  Exact integers throughout.
    At 100 TB: one user-grain aggregate, one |days|-row window."""
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.col("ts_us").cast("date")).alias("first_day")
    )
    daily = firsts.groupBy("first_day").agg(
        F.count("*").cast("long").alias("new_users")
    )
    w = Window.orderBy("first_day")
    return daily.select(
        F.col("first_day").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@query(
    "orders_gini_concentration",
    "aggregation/robust",
    oracle="""
    WITH c AS (
        SELECT CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents,
               o_custkey
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT cents,
               CAST(row_number() OVER (ORDER BY cents, o_custkey)
                    AS BIGINT) AS r,
               CAST(count(*) OVER () AS BIGINT) AS n,
               CAST(sum(cents) OVER () AS BIGINT) AS total
        FROM c
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(max(total) AS BIGINT) AS total_cents,
           round(CAST(2.0 * sum(r * cents)
                      / (max(n) * CAST(max(total) AS DOUBLE))
                      - (max(n) + 1.0) / max(n) AS DOUBLE), 6) AS gini
    FROM ranked
    """,
)
def orders_gini_concentration(spark, sf_dir):
    """Gini coefficient of customer spend — the revenue-concentration
    scalar behind 'whale' risk analysis: G = 2*Σ(r_i * x_i)/(n*Σx)
    - (n+1)/n over spend ranked ascending (ties broken on the key so
    the rank-weighted sum is deterministic).  Σ(r*x) accumulates as
    exact BIGINTs (rank ≤ n, cents < 2^33, products < 2^63 at any
    fixture SF); the Gini itself is one fixed double tree, 6-dp
    rounded because the rank-weighted sum exceeds 2^53 at sf0.1 and
    the two engines' int->double conversions landed 2 ulps apart
    (SURVEY §7.3-H2 armor).  At 100 TB
    the global rank falls back to the two-pass `ranged_row_number`;
    |customers| makes the window cheap here."""
    o = table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    ranked = c.select(
        "cents",
        F.row_number()
        .over(Window.orderBy("cents", "o_custkey"))
        .cast("long")
        .alias("r"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
        F.sum("cents").over(Window.partitionBy()).cast("long").alias(
            "total"
        ),
    )
    return ranked.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.max("total").cast("long").alias("total_cents"),
        F.round(
            (
                F.lit(2.0)
                * F.sum(F.col("r") * F.col("cents"))
                / (F.max("n") * F.max("total").cast("double"))
                - (F.max("n") + F.lit(1.0)) / F.max("n")
            ).cast("double"),
            6,
        ).alias("gini"),
    )
