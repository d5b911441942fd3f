"""Training-pipeline extension queries: deterministic dataset
splitting, native session windows, n-gram generation.

All three dialect pairs probed MATCH this session (Spark 4.1.2 vs
DuckDB 1.0.0) before declaration.
"""

from __future__ import annotations

import functools

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import REGISTRY, query


@query(
    "split_train_val_test",
    "LLM-pipeline",
    oracle="""
    SELECT split, count(*) AS n_docs
    FROM (
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT CAST(('0x' || substring(md5(text), 1, 4))::INTEGER
                          AS BIGINT) % 100 AS bucket
              FROM documents)
    )
    GROUP BY split
    """,
)
def split_train_val_test(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment: bucket =
    md5(content) prefix mod 100.  Content-hash (not rand()) splitting
    is reproducible across runs/engines, stable under re-partitioning,
    and keeps exact duplicates in the SAME split (no train→test
    leakage) — the property a training pipeline actually needs."""
    d = table(spark, sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5("text"), 1, 4), 16, 10)
              .cast("bigint") % 100)
    return (
        d.select(
            F.when(bucket < 80, "train")
            .when(bucket < 90, "val")
            .otherwise("test")
            .alias("split")
        )
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "session_window_native",
    "stream-analogue",
    oracle="""
    WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts_us FROM events),
    flag AS (
        SELECT user_id, ts_us,
               CASE WHEN ts_us - lag(ts_us) OVER w > INTERVAL 30 MINUTE
                         OR lag(ts_us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
    ),
    sess AS (
        SELECT user_id, ts_us,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flag
    )
    SELECT user_id, min(ts_us) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def session_window_native(spark, sf_dir):
    """Spark's native ``session_window`` (batch mode) — proven here to
    produce EXACTLY the sessions of the lag→cumsum SQL formulation
    (#45), which is what the oracle replays.  The same expression runs
    incrementally under Structured Streaming with merging session
    state; #45 carries the hand-rolled formulation."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts_us", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


@query(
    "ngram_top_bigrams",
    "LLM-pipeline",
    oracle="""
    SELECT lang, bigram, cnt FROM (
        SELECT lang, bigram, cnt,
               rank() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram)
                   AS rnk
        FROM (
            SELECT lang, bigram, count(*) AS cnt FROM (
                SELECT lang,
                       tok || ' ' ||
                              lead(tok) OVER (PARTITION BY doc_id ORDER BY i)
                           AS bigram
                FROM (SELECT doc_id, lang, g.i AS i, toks[g.i] AS tok
                      FROM (SELECT doc_id, lang,
                                   string_split(text, ' ') AS toks
                            FROM documents),
                      LATERAL (SELECT unnest(generate_series(1, len(toks)))
                               AS i) g)
            ) WHERE bigram IS NOT NULL AND bigram LIKE '% %'
            GROUP BY lang, bigram
        )
    ) WHERE rnk <= 3
    """,
)
def ngram_top_bigrams(spark, sf_dir):
    """Top-3 bigrams per language: positional explode → lead() within
    document → count → rank.  The n-gram construction primitive under
    shingle-based dedup and LM data prep; generalizes to any n by
    chaining lead(k)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    from pyspark.sql import Window

    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = toks.select(
        "lang",
        F.concat_ws(" ", F.col("tok"), F.lead("tok").over(w_doc)).alias("bigram"),
    ).filter(F.col("bigram").like("% %"))
    counts = bigrams.groupBy("lang", "bigram").agg(F.count("*").alias("cnt"))
    w_rank = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counts.withColumn("rnk", F.rank().over(w_rank))
        .filter(F.col("rnk") <= 3)
        .select("lang", "bigram", "cnt")
    )


@query(
    "repetition_ratio_filter",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, g.i AS i, toks[g.i] AS tok
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
              FROM documents),
        LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g
    ), bigrams AS (
        SELECT doc_id, lang,
               tok || ' ' || lead(tok) OVER (PARTITION BY doc_id
                                             ORDER BY i) AS bg
        FROM toks
    ), per_doc AS (
        SELECT doc_id, lang,
               CAST(max(cnt) AS DOUBLE) / sum(cnt) AS rep_ratio
        FROM (SELECT doc_id, lang, bg, count(*) AS cnt
              FROM bigrams WHERE bg LIKE '% %' GROUP BY 1, 2, 3)
        GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(count(*) FILTER (WHERE rep_ratio > 0.2) AS BIGINT)
               AS n_repetitive,
           count(*) AS n_docs,
           round(avg(rep_ratio), 6) AS avg_rep_ratio
    FROM per_doc
    GROUP BY lang
    """,
)
def repetition_ratio_filter(spark, sf_dir):
    """Gopher-style repetition signal: top-bigram share per document
    (max bigram count / total bigrams); docs above 0.2 are flagged
    repetitive.  All window/agg arithmetic — no Python in the path."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.posexplode(F.split("text", " ")).alias("i", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    bigrams = toks.select(
        "doc_id", "lang",
        F.concat_ws(" ", "tok", F.lead("tok").over(w)).alias("bg"),
    ).filter(F.col("bg").like("% %"))
    per_doc = (
        bigrams.groupBy("doc_id", "lang", "bg")
        .agg(F.count("*").alias("cnt"))
        .groupBy("doc_id", "lang")
        .agg((F.max("cnt").cast("double") / F.sum("cnt")).alias("rep_ratio"))
    )
    return per_doc.groupBy("lang").agg(
        F.count_if(F.col("rep_ratio") > 0.2).alias("n_repetitive"),
        F.count("*").alias("n_docs"),
        F.round(F.avg("rep_ratio"), 6).alias("avg_rep_ratio"),
    )


@query(
    "text_mask_numbers",
    "LLM-pipeline",
    oracle="""
    SELECT doc_id,
           regexp_replace(concat(text, ' id', CAST(doc_id AS VARCHAR)),
                          '[0-9]+', '<NUM>', 'g') AS masked
    FROM documents
    WHERE doc_id < 2000
    """,
)
def text_mask_numbers(spark, sf_dir):
    """Scrubbing/masking primitive: replace digit runs with a sentinel
    (the shape of PII-redaction passes; POSIX class keeps regex
    flavors aligned).  Spark regexp_replace is global by default ≙
    DuckDB's 'g' flag."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.concat(F.col("text"), F.lit(" id"),
                     F.col("doc_id").cast("string")),
            "[0-9]+", "<NUM>",
        ).alias("masked"),
    )


@query(
    "multimodal_frame_counts",
    "LLM-pipeline",
    oracle="""
    SELECT doc_id,
           CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_frames,
           CAST((CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) + 1)
                // 2 AS BIGINT) AS n_sampled
    FROM documents
    WHERE doc_id < 2000
    """,
)
def multimodal_frame_counts(spark, sf_dir):
    """Frame-sampling accounting: payload → 64-byte frames → every 2nd
    kept (operators.multimodal.sample_frames does the real fan-out in
    mapInPandas; this query checks its row-count arithmetic against
    pure SQL on byte lengths)."""
    from ..operators import multimodal as mm

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    media = mm.as_binary_media(d)
    sampled = (
        mm.media_rows(media,
                      functools.partial(mm.sample_frames, frame_bytes=64),
                      mm.FRAME_SCHEMA)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_sampled"))
    )
    total = media.select(
        "doc_id",
        F.ceil(F.octet_length("payload") / 64.0).cast("bigint").alias("n_frames"),
    )
    return total.join(sampled, "doc_id").select("doc_id", "n_frames", "n_sampled")


@query(
    "funnel_conversion",
    "stream-analogue",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup'
                        THEN ts::TIMESTAMP END) AS t_signup,
               min(CASE WHEN event_type = 'purchase'
                        THEN ts::TIMESTAMP END) AS t_purchase
        FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(count(t_signup) AS BIGINT) AS n_signed_up,
           CAST(sum(CASE WHEN t_purchase > t_signup THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted
    FROM firsts
    """,
)
def funnel_conversion(spark, sf_dir):
    """Event funnel: users whose first purchase follows their first
    signup — one conditional-min pass per user, no self-join (the
    standard product-analytics funnel, expressed as a single grouped
    aggregate so it scales as one shuffle)."""
    e = table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup",
                     F.col("ts_us"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "purchase",
                     F.col("ts_us"))).alias("t_purchase"),
    )
    return firsts.agg(
        F.count("*").alias("n_users"),
        F.count("t_signup").alias("n_signed_up"),
        F.sum(
            F.when(F.col("t_purchase") > F.col("t_signup"), 1).otherwise(0)
        ).cast("bigint").alias("n_converted"),
    )


@query(
    "cohort_retention",
    "stream-analogue",
    oracle="""
    WITH e AS (
        SELECT user_id, CAST(date_trunc('day', ts::TIMESTAMP) AS DATE) AS d
        FROM events
    ), cohorts AS (
        SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id
    )
    SELECT c.cohort_day,
           CAST(datediff('day', c.cohort_day, e.d) AS INT) AS day_offset,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS active_users
    FROM e JOIN cohorts c ON e.user_id = c.user_id
    WHERE datediff('day', c.cohort_day, e.d) <= 7
    GROUP BY c.cohort_day, day_offset
    """,
)
def cohort_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-seen day,
    distinct-active counts per day offset (first week).  The cohort
    dim derives from the same table (broadcastable: one row per
    user), so the fact side shuffles once for the final group."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts_us").cast("date").alias("d")
    )
    cohorts = e.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    offset = F.datediff(F.col("d"), F.col("cohort_day"))
    return (
        e.join(cohorts, "user_id")
        .filter(offset <= 7)
        .groupBy("cohort_day", offset.alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@query(
    "contamination_check",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang, g.i AS i, toks[g.i] AS tok
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks
              FROM documents),
        LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g
    ), shingles AS (
        SELECT doc_id, lang,
               tok || ' ' || lead(tok, 1) OVER w
                   || ' ' || lead(tok, 2) OVER w AS sh
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY i)
    ), bench AS (
        SELECT DISTINCT sh FROM shingles
        WHERE doc_id < 50 AND sh IS NOT NULL
    ), contaminated AS (
        SELECT DISTINCT s.doc_id, s.lang
        FROM shingles s
        WHERE s.doc_id >= 50 AND s.sh IS NOT NULL
          AND s.sh IN (SELECT sh FROM bench)
    )
    SELECT lang, count(*) AS n_contaminated
    FROM contaminated GROUP BY lang
    """,
)
def contamination_check(spark, sf_dir):
    """Benchmark decontamination: training docs sharing any 3-token
    shingle with the benchmark set (doc_id < 50 stands in) — a
    semi-join on shingles, so the plan is shuffle-on-shingle + LeftSemi,
    never a doc×doc product.  At 100 TB the shingle column is hashed
    (xxhash64) so the shuffle carries 8 bytes, and the benchmark side
    broadcasts."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.posexplode(F.split("text", " ")).alias("i", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    shingles = toks.select(
        "doc_id", "lang",
        F.concat_ws(
            " ", "tok", F.lead("tok", 1).over(w), F.lead("tok", 2).over(w)
        ).alias("sh"),
        (F.lead("tok", 2).over(w).isNotNull()).alias("full"),
    ).filter(F.col("full"))
    bench = shingles.filter(F.col("doc_id") < 50).select("sh").distinct()
    contaminated = (
        shingles.filter(F.col("doc_id") >= 50)
        .join(F.broadcast(bench), "sh", "left_semi")
        .select("doc_id", "lang")
        .distinct()
    )
    return contaminated.groupBy("lang").agg(
        F.count("*").alias("n_contaminated")
    )


@query(
    "stratified_sample_by_lang",
    "LLM-pipeline",
    oracle="""
    WITH b AS (
        SELECT lang,
               CAST(('0x' || substring(md5(text), 1, 4))::INTEGER AS BIGINT)
                 % 100 AS bucket
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS total,
           CAST(count(*) FILTER (WHERE bucket <
               CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 50 ELSE 25 END)
             AS BIGINT) AS sampled
    FROM b GROUP BY lang
    """,
)
def stratified_sample_by_lang(spark, sf_dir):
    """Deterministic per-stratum sampling: each language gets its own
    rate (down-sample dominant en, up-weight scarce zh) decided by a
    content-hash bucket, NOT rand() — so the sample is reproducible
    across runs/retries and consistent for duplicate texts, exactly the
    property a 100 TB corpus re-balance needs (same recipe as
    split_train_val_test).  Pure map-side + partial agg: no extra
    shuffle beyond the 5-group final aggregate."""
    d = table(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("long") % 100
    rate = (
        F.when(F.col("lang") == "en", 10)
        .when(F.col("lang") == "zh", 50)
        .otherwise(25)
    )
    return (
        d.select("lang", bucket.alias("bucket"), rate.alias("rate"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("total"),
            F.count(F.when(F.col("bucket") < F.col("rate"), 1)).alias("sampled"),
        )
    )


@query(
    "rolling_weekly_active_users",
    "stream-analogue",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts::TIMESTAMP AS DATE) AS d
        FROM events
    ), days AS (
        SELECT DISTINCT d FROM ud
    )
    SELECT days.d AS day,
           CAST(count(DISTINCT ud.user_id) AS BIGINT) AS wau
    FROM days JOIN ud
      ON ud.d BETWEEN days.d - INTERVAL 6 DAY AND days.d
    GROUP BY days.d
    """,
)
def rolling_weekly_active_users(spark, sf_dir):
    """Rolling 7-day distinct actives (WAU per day) — rolling DISTINCT
    cannot ride a window frame (no distinct aggregates over windows),
    so it composes as dedup-to-(user, day) → day-grid range join →
    grouped distinct count.  The (user, day) dedup collapses the 100 TB
    event volume to |users|×|days| BEFORE the ×7 range-join expansion,
    and the day grid is tiny (broadcast).  At larger spans the exact
    distinct swaps for mergeable HLL sketches per day
    (approx_count_distinct) unioned over the window."""
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts_us").alias("d")).distinct()
    days = ud.select("d").distinct()
    # each (user, day) contributes to exactly the 7 grid days [d, d+6]:
    # a map-side x7 explode plus an EQUI join against the day grid
    # (hash join, broadcastable) replaces the former non-equi range
    # join that planned a BroadcastNestedLoopJoin
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("day"),
    )
    return (
        contrib.join(days.select(F.col("d").alias("day")), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )


@query(
    "pack_sequences_token_budget",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), packed AS (
        SELECT doc_id, n_tok,
               CAST(floor(COALESCE(sum(n_tok) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 2048.0) AS BIGINT) AS bin_id
        FROM toks
    )
    SELECT bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens
    FROM packed GROUP BY bin_id
    """,
)
def pack_sequences_token_budget(spark, sf_dir):
    """Sequence packing for training: assign documents to fixed
    token-budget bins (2048 here) by an exclusive prefix sum of token
    counts over a deterministic order — the step that turns a shuffled
    corpus into dense training sequences with bounded padding.

    The exclusive prefix sum is computed with the two-pass
    range-partitioned operator (``ranged_running_sum(exclusive=True)``)
    — bitwise-identical to the single global ORDER BY window (integer
    addition reassociates exactly) with no single-partition stage, so
    the SAME bin assignment the oracle checks also holds at 100 TB.
    (The shard-local variant — partitionBy shard, bin key =
    (shard, local_bin) — remains the choice when bins may not span
    shard boundaries.)"""
    from ..operators.scale import ranged_running_sum

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    packed = ranged_running_sum(
        toks, [F.asc("doc_id")], "n_tok", "__prefix", exclusive=True
    ).withColumn(
        "bin_id", F.floor(F.col("__prefix") / 2048.0).cast("bigint")
    )
    return packed.groupBy("bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
    )


@query(
    "sample_weighted_by_quality",
    "LLM-pipeline",
    oracle="""
    WITH scored AS (
        SELECT lang,
               CAST(('0x' || substring(md5(text), 1, 4))::INTEGER AS BIGINT)
                 % 10000 AS bucket,
               least(CAST(n_chars AS DOUBLE) / 1000.0, 1.0) AS p_keep
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS total,
           CAST(count(*) FILTER (WHERE bucket < p_keep * 10000)
                AS BIGINT) AS kept
    FROM scored GROUP BY lang
    """,
)
def sample_weighted_by_quality(spark, sf_dir):
    """Per-document weighted sampling: keep probability is a
    CONTINUOUS per-row quality weight (here length-based, capped at 1)
    decided by the content-hash bucket, not rand() — longer/higher-
    quality docs survive proportionally, retries resample identically,
    and duplicate texts get identical keep decisions.  Map-side only;
    the one shuffle is the per-lang accounting aggregate."""
    d = table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("long") % 10000
    )
    p_keep = F.least(F.col("n_chars").cast("double") / 1000.0, F.lit(1.0))
    return (
        d.select("lang", bucket.alias("bucket"), p_keep.alias("p_keep"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("total"),
            F.count(
                F.when(F.col("bucket") < F.col("p_keep") * 10000, 1)
            ).alias("kept"),
        )
    )


@query(
    "domain_mix_rebalance",
    "LLM-pipeline",
    oracle="""
    WITH ranked AS (
        SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                                  ORDER BY md5(text), doc_id) AS rnk
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS total,
           CAST(count(*) FILTER (WHERE rnk <= 120) AS BIGINT) AS kept,
           CAST(sum(doc_id) FILTER (WHERE rnk <= 120) AS BIGINT)
               AS kept_id_sum
    FROM ranked GROUP BY source
    """,
)
def domain_mix_rebalance(spark, sf_dir):
    """Domain-mixture rebalance: cap every source at the same document
    budget (120) by keeping each source's lowest content-hash ranks —
    a deterministic uniform subsample per domain, so the corpus mix
    hits target ratios without rand().  kept_id_sum pins the EXACT
    kept set (not just its size) across engines.  One shuffle on
    source for the rank window; at 100 TB source cardinality is tiny,
    so pre-aggregate per (source, hash-prefix) first if a single
    source dominates a partition."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5("text"), F.col("doc_id"))
    ranked = d.select(
        "source", "doc_id", F.row_number().over(w).alias("rnk")
    )
    kept = F.when(F.col("rnk") <= 120, 1)
    return ranked.groupBy("source").agg(
        F.count("*").alias("total"),
        F.count(kept).alias("kept"),
        F.sum(F.when(F.col("rnk") <= 120, F.col("doc_id"))).alias(
            "kept_id_sum"
        ),
    )


@query(
    "dedup_exact_digest",
    "LLM-pipeline",
    oracle="""
    WITH keep AS (
        SELECT min(doc_id) AS doc_id
        FROM documents GROUP BY md5(text)
    )
    SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept
    FROM documents d JOIN keep k ON d.doc_id = k.doc_id
    GROUP BY d.lang
    """,
)
def dedup_exact_digest(spark, sf_dir):
    """Exact dedup the way a 100 TB pipeline runs it: group on a
    16-byte content DIGEST (md5) instead of the document text, keep
    the minimum doc_id per digest — the dedup shuffle moves hashes,
    not documents (dedup_exact's countDistinct(text) shuffles the
    text itself).  Rejoin on the kept ids for the per-lang ship
    accounting."""
    d = table(spark, sf_dir, "documents")
    keep = d.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("doc_id")
    )
    return (
        d.join(keep.select("doc_id"), "doc_id")
        .groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
    )


@query(
    "weighted_sample_without_replacement",
    "LLM-pipeline",
    oracle="""
    WITH keyed AS (
        SELECT lang, doc_id,
               -ln((CAST(('0x' || substring(md5(text), 1, 4))::INTEGER
                         AS BIGINT) % 10000 + 0.5) / 10000.0)
               / CAST(n_chars AS DOUBLE) AS k
        FROM documents
    ), ranked AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY k DESC, doc_id) AS rnk
        FROM keyed
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(doc_id) AS BIGINT) AS sampled_id_sum
    FROM ranked WHERE rnk <= 50
    GROUP BY lang
    """,
)
def weighted_sample_without_replacement(spark, sf_dir):
    """Weighted sampling WITHOUT replacement, exact-k per language:
    the Efraimidis–Spirakis A-ES scheme (public algorithm) — each doc
    draws key u^(1/w), the k largest keys win, inclusion probability
    proportional to weight w (doc length here).  The uniform u comes
    from the content hash, not rand(), so the sample is reproducible
    under retries and identical across engines; equivalently ranked by
    -ln(u)/w descending... the log form avoids u^(1/w) underflow for
    large weights.  One window shuffle per stratum; sampled_id_sum
    pins the EXACT chosen set."""
    d = table(spark, sf_dir, "documents")
    u = (
        (F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("long") % 10000)
        + 0.5
    ) / 10000.0
    k = -F.log(u) / F.col("n_chars").cast("double")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(F.desc("k"), F.asc("doc_id"))
    ranked = d.select("lang", "doc_id", k.alias("k")).withColumn(
        "rnk", F.row_number().over(w)
    )
    return (
        ranked.filter(F.col("rnk") <= 50)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("doc_id").alias("sampled_id_sum"),
        )
    )


@query(
    "pipeline_end_to_end_recipe",
    "LLM-pipeline",
    oracle="""
    WITH filtered AS (
        SELECT doc_id, lang, text
        FROM documents
        WHERE n_chars >= 120
          AND len(string_split(text, ' ')) >= 20
    ), keep AS (
        SELECT min(doc_id) AS doc_id
        FROM filtered GROUP BY md5(text)
    ), deduped AS (
        SELECT f.doc_id, f.lang, f.text
        FROM filtered f JOIN keep k ON f.doc_id = k.doc_id
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM (SELECT lang,
                 CAST(('0x' || substring(md5(text), 1, 4))::INTEGER
                      AS BIGINT) % 100 AS bucket
          FROM deduped)
    GROUP BY 1, 2
    """,
)
def pipeline_end_to_end_recipe(spark, sf_dir):
    """The composed data recipe a training run actually ships: quality
    gate (length floors) → exact dedup on the content digest (keep min
    id) → deterministic content-hash train/val/test split → per-split
    accounting.  Every stage is a previously-verified operator; the
    value of the composition is that filters/digests/buckets all ride
    ONE pass over the text column, and the only shuffles are the
    digest groupBy and the final count.  At 100 TB the near-dup stage
    (LSH + verify + components) slots between dedup and split without
    changing the recipe's shape."""
    d = table(spark, sf_dir, "documents")
    filtered = d.filter(
        (F.col("n_chars") >= 120) & (F.size(F.split("text", " ")) >= 20)
    )
    keep = filtered.groupBy(F.md5("text").alias("digest")).agg(
        F.min("doc_id").alias("doc_id")
    )
    deduped = filtered.join(keep.select("doc_id"), "doc_id")
    bucket = (
        F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("long") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        deduped.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "rolling_wau_hll_sketch",
    "stream-analogue",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), days AS (
        SELECT DISTINCT d AS day FROM ud
    )
    SELECT day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS wau_exact,
           TRUE AS within_bound
    FROM days JOIN ud ON ud.d BETWEEN day - 6 AND day
    GROUP BY day
    """,
)
def rolling_wau_hll_sketch(spark, sf_dir):
    """Rolling 7-day active users via MERGEABLE HLL sketches — the
    100 TB form of rolling_weekly_active_users: one DataSketches HLL
    per day (tiny, mergeable), exploded onto the 7-day grid and UNIONED
    per window (`hll_union_agg`), estimated at the end.  Exact rolling
    distinct must re-touch every (user, day) pair per window; sketch
    union touches 7 kilobyte-sized sketches per day — the difference
    between a shuffle of users x days x 7 and a shuffle of days x 7.

    Promoted from rows-only to oracle-checked (round-9 VERDICT task 5)
    by the sketch-then-verify pattern: the DataSketches estimate is
    implementation-defined so it never enters the hashed output —
    instead the query ALSO computes the exact rolling WAU (oracle-able
    in plain SQL) and asserts the estimate lands within 5 % of it
    (HLL lgK=12 has ~0.8 % standard error; the pytest bound in
    tests/test_scale_ops.py stays as the tighter in-process check).
    At 100 TB only the sketch branch runs; the exact branch here IS
    the verification harness, run on a sampled slice."""
    e = table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts_us").alias("d")).distinct()
    daily = ud.groupBy("d").agg(F.hll_sketch_agg("user_id").alias("sk"))
    days = ud.select("d").distinct().select(F.col("d").alias("day"))
    contrib = daily.select(
        F.explode(F.sequence(F.col("d"), F.date_add("d", 6))).alias("day"),
        "sk",
    )
    est = (
        contrib.join(days, "day")
        .groupBy("day")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("bigint")
            .alias("wau_est")
        )
    )
    exact = (
        ud.select(
            F.explode(
                F.sequence(F.col("d"), F.date_add("d", 6))
            ).alias("day"),
            "user_id",
        )
        .join(days, "day")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau_exact"))
    )
    return est.join(exact, "day").select(
        "day",
        "wau_exact",
        (F.abs(F.col("wau_est") - F.col("wau_exact"))
         <= 0.05 * F.col("wau_exact")).alias("within_bound"),
    )


@query(
    "data_quality_report",
    "LLM-pipeline/quality",
    oracle="""
    WITH t AS (SELECT count(*) AS n_rows FROM orders)
    SELECT 'not_null(o_custkey)' AS rule,
           CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL)
                AS BIGINT) AS n_violations,
           CAST(n_rows AS BIGINT) AS n_rows
    FROM t
    UNION ALL
    SELECT 'in_range(o_totalprice)',
           CAST((SELECT count(*) FROM orders
                 WHERE o_totalprice IS NOT NULL
                   AND o_totalprice NOT BETWEEN 0 AND 1000000) AS BIGINT),
           CAST(n_rows AS BIGINT)
    FROM t
    UNION ALL
    SELECT 'accepted_values(o_orderstatus)',
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderstatus IS NOT NULL
                   AND o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT),
           CAST(n_rows AS BIGINT)
    FROM t
    UNION ALL
    SELECT 'matches_regex(o_orderpriority)',
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderpriority IS NOT NULL
                   AND NOT regexp_matches(o_orderpriority, '^[1-5]-'))
                AS BIGINT),
           CAST(n_rows AS BIGINT)
    FROM t
    UNION ALL
    SELECT 'unique(o_orderkey)',
           CAST((SELECT COALESCE(sum(c), 0) FROM (
                     SELECT count(*) AS c FROM orders
                     GROUP BY o_orderkey HAVING count(*) > 1))
                AS BIGINT),
           CAST(n_rows AS BIGINT)
    FROM t
    """,
)
def data_quality_report(spark, sf_dir):
    """Declarative expectations (operators/quality.py) over orders:
    null / range / accepted-values / regex rules evaluate in ONE
    aggregate pass regardless of rule count, uniqueness in a second
    keyed aggregate — the promotion gate a pipeline runs before
    publishing a table, priced at one scan at any data size."""
    from ..operators import quality as Q

    o = table(spark, sf_dir, "orders")
    report = Q.validate(
        o,
        [
            Q.not_null("o_custkey"),
            Q.in_range("o_totalprice", 0, 1_000_000),
            Q.accepted_values("o_orderstatus", ["F", "O", "P"]),
            Q.matches_regex("o_orderpriority", r"^[1-5]-"),
        ],
    )
    return report.union(Q.expect_unique(o, ["o_orderkey"]))


@query(
    "split_leakfree_by_source",
    "LLM-pipeline",
    oracle="""
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM (
        SELECT source, n_chars,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT source, n_chars,
                     CAST(('0x' || substring(md5(source), 1, 4))::INTEGER
                          AS BIGINT) % 100 AS bucket
              FROM documents)
    )
    GROUP BY split
    """,
)
def split_leakfree_by_source(spark, sf_dir):
    """GROUP-level train/val/test split: the bucket is the hash of the
    SOURCE, not the document, so every document of a source lands in
    the same split — the leakage guard doc-level splitting cannot give
    when near-duplicates cluster within a source (same reason
    recommender/user data is split by user).  Deterministic md5
    bucketing: reproducible across runs, engines, and repartitioning.
    Scale shape: pure per-row expression + one aggregation, no join —
    the split of a 100 TB corpus costs one pass."""
    d = table(spark, sf_dir, "documents")
    bucket = (F.conv(F.substring(F.md5("source"), 1, 4), 16, 10)
              .cast("bigint") % 100)
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
    )
    return d.select(split.alias("split"), "source", "n_chars").groupBy(
        "split"
    ).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("sum_chars"),
    )


@query(
    "chunk_documents_overlap",
    "LLM-pipeline",
    oracle="""
    SELECT doc_id, s AS chunk_start,
           array_to_string(list_slice(w, s, least(s + 19, n_words)), ' ')
               AS chunk,
           CAST(least(s + 19, n_words) - s + 1 AS INT) AS chunk_len
    FROM (
        SELECT doc_id, w, len(w) AS n_words,
               unnest(generate_series(1, len(w), 15)) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS w
              FROM documents WHERE doc_id < 300)
    )
    """,
)
def chunk_documents_overlap(spark, sf_dir):
    """Sliding-window document chunking (size 20 words, stride 15 — a
    5-word overlap): the context-window packing primitive for training
    and for RAG indexing.  Entirely JVM-side array ops — split +
    sequence + explode + slice + array_join — no Python in the path.
    Scale shape: explode fans out ~n_words/stride rows per doc with no
    shuffle at all until a downstream consumer aggregates; chunking a
    100 TB corpus is map-only."""
    size, stride = 20, 15
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    w = F.split("text", " ")
    d = d.select("doc_id", w.alias("w"), F.size(w).alias("n_words"))
    d = d.select(
        "doc_id", "w", "n_words",
        F.explode(
            F.sequence(F.lit(1), F.col("n_words"), F.lit(stride))
        ).alias("s"),
    )
    chunk_len = F.least(
        F.lit(size), F.col("n_words") - F.col("s") + F.lit(1)
    )
    return d.select(
        "doc_id",
        F.col("s").alias("chunk_start"),
        F.array_join(F.slice("w", F.col("s"), chunk_len), " ").alias("chunk"),
        chunk_len.cast("int").alias("chunk_len"),
    )


@query(
    "dedup_incremental_batch",
    "LLM-pipeline",
    oracle="""
    WITH idx AS (
        SELECT DISTINCT md5(text) AS dig
        FROM documents WHERE doc_id % 5 <> 0
    ), batch AS (
        SELECT doc_id, source, md5(text) AS dig
        FROM documents WHERE doc_id % 5 = 0
    ), firsts AS (
        SELECT doc_id, source, dig,
               row_number() OVER (PARTITION BY dig ORDER BY doc_id) AS rn
        FROM batch
    )
    SELECT f.doc_id, f.source
    FROM firsts f
    WHERE f.rn = 1
      AND NOT EXISTS (SELECT 1 FROM idx i WHERE i.dig = f.dig)
    """,
)
def dedup_incremental_batch(spark, sf_dir):
    """Incremental corpus-append dedup: a new BATCH of documents
    (doc_id % 5 = 0 stands in for today's crawl) is admitted only if
    (a) no earlier batch member has the same content digest
    (within-batch first-wins) and (b) the digest is absent from the
    existing INDEX corpus (doc_id % 5 <> 0) — the shape every
    continuously-ingesting training pipeline runs daily, as opposed to
    the one-shot whole-corpus dedup of ``dedup_exact_digest``.

    Scale shape: both sides reduce to 16-byte md5 digests before any
    shuffle, so the index side is a digest-only projection of the
    (arbitrarily large) historical corpus; within-batch first-wins is
    one window over the batch's digest partitions; the cross-corpus
    check is a LeftAnti hash join on the digest — at 100 TB the index
    digests live as a bucketed table keyed on digest so daily runs
    co-locate without reshuffling history.  Streaming analogue:
    ``dropDuplicates`` + stream-static anti join
    (streaming/demos.py)."""
    d = table(spark, sf_dir, "documents").withColumn(
        "dig", F.md5(F.col("text").cast("binary"))
    )
    idx = d.filter(F.col("doc_id") % 5 != 0).select("dig").distinct()
    batch = d.filter(F.col("doc_id") % 5 == 0)
    from pyspark.sql import Window

    w = Window.partitionBy("dig").orderBy("doc_id")
    firsts = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return firsts.join(idx, "dig", "left_anti").select("doc_id", "source")


@query(
    "corpus_snapshot_diff",
    "LLM-pipeline",
    oracle="""
    WITH old AS (
        SELECT doc_id, md5(text) AS dig_old
        FROM documents WHERE doc_id % 7 <> 0
    ), new AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 11 = 0 THEN upper(text)
                        ELSE text END) AS dig_new
        FROM documents WHERE doc_id % 5 <> 0
    )
    SELECT CASE
             WHEN dig_old IS NULL THEN 'added'
             WHEN dig_new IS NULL THEN 'removed'
             WHEN dig_old <> dig_new THEN 'changed'
             ELSE 'unchanged'
           END AS status,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(COALESCE(old.doc_id, new.doc_id)) AS BIGINT)
             AS id_checksum
    FROM old FULL OUTER JOIN new USING (doc_id)
    GROUP BY 1
    """,
)
def corpus_snapshot_diff(spark, sf_dir):
    """Dataset-versioning diff between two corpus snapshots — the
    added/removed/changed/unchanged accounting every reproducible
    training pipeline runs before re-training on a refreshed crawl
    (two deterministic views of the fixture stand in for the T0/T1
    snapshots; doc_id % 11 simulates in-place edits).

    Scale shape: both snapshots reduce to (doc_id, 16-byte digest)
    BEFORE the full-outer shuffle join, so the diff never moves
    document bodies; the join key is the unskewed unique doc_id and
    the result aggregates to |status| = 4 rows map-side.  At 100 TB
    both snapshot digests live as bucketed tables on doc_id so the
    daily diff is a co-located zipper, not a reshuffle."""
    d = table(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", F.md5("text").alias("dig_old")
    )
    new = d.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 11 == 0, F.upper("text")).otherwise(
                F.col("text")
            )
        ).alias("dig_new"),
    )
    status = (
        F.when(F.col("dig_old").isNull(), "added")
        .when(F.col("dig_new").isNull(), "removed")
        .when(F.col("dig_old") != F.col("dig_new"), "changed")
        .otherwise("unchanged")
    )
    return (
        old.join(new, "doc_id", "full_outer")
        .select(status.alias("status"), "doc_id")
        .groupBy("status")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )


@query(
    "stratified_sample_exact_k",
    "LLM-pipeline",
    oracle="""
    WITH ranked AS (
        SELECT lang, source, doc_id,
               row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY md5(text), doc_id
               ) AS rnk
        FROM documents
    )
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(doc_id) AS BIGINT) AS sampled_id_sum
    FROM ranked WHERE rnk <= 10
    GROUP BY lang, source
    """,
)
def stratified_sample_exact_k(spark, sf_dir):
    """Stratified sampling, EXACT k per (lang, source) stratum: rank
    by content hash inside each stratum, keep the first 10.  Uniform
    over content (md5 order is independent of any business column),
    fully deterministic across engines/retries/partitionings — no
    rand(), so a re-run ships the identical eval subset
    (SURVEY §7.3-H7 style determinism; sampled_id_sum pins the exact
    chosen set).  One window shuffle on the stratum key; at 100 TB
    strata are hash-spread so no reducer holds more than its strata.
    Complements weighted_sample_without_replacement (A-ES, weighted)
    with the uniform-per-stratum form every eval-split recipe uses."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy("h", F.asc("doc_id"))
    ranked = d.select(
        "lang", "source", "doc_id", F.md5("text").alias("h")
    ).withColumn("rnk", F.row_number().over(w))
    return (
        ranked.filter(F.col("rnk") <= 10)
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("doc_id").alias("sampled_id_sum"),
        )
    )


@query(
    "dq_rule_violations",
    "LLM-pipeline/quality",
    oracle="""
    SELECT 'lineitem_nonpositive_qty' AS rule,
           CAST(count(*) FILTER (WHERE l_quantity IS NULL
                                    OR l_quantity <= 0) AS BIGINT)
               AS n_violations,
           CAST(count(*) AS BIGINT) AS n_checked
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_out_of_range',
           CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
                AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_nonpositive_price',
           CAST(count(*) FILTER (WHERE o_totalprice IS NULL
                                    OR o_totalprice <= 0) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_orphan_custkey',
           CAST((SELECT count(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
                AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM lineitem
    """,
)
def dq_rule_violations(spark, sf_dir):
    """Data-quality gate: the rule-violation report every ingest stage
    runs BEFORE publishing a snapshot — range rules (non-positive
    quantities/prices, out-of-range discounts) and referential rules
    (orphan foreign keys), each with its checked-row denominator so
    the consumer can threshold on violation RATE.

    Scale shape: the three range rules are conditional aggregates in
    ONE pass over their table (map-side partial, no shuffle of raw
    rows); the two FK rules are anti joins that broadcast nothing
    fact-sized (orders←customer broadcasts the dim side; the
    lineitem←orders anti join shuffles on the join key once).  Output
    is five fixed rows regardless of data volume."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")

    def rule(name, df, pred):
        return df.agg(
            F.count(F.when(pred, 1)).alias("n_violations"),
            F.count("*").alias("n_checked"),
        ).select(F.lit(name).alias("rule"), "n_violations", "n_checked")

    qty_bad = F.col("l_quantity").isNull() | (F.col("l_quantity") <= 0)
    disc_bad = (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
    price_bad = F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)

    orphan_orders = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .crossJoin(o.agg(F.count("*").alias("n_checked")))
        .select(
            F.lit("orders_orphan_custkey").alias("rule"),
            "n_violations", "n_checked",
        )
    )
    orphan_lines = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .crossJoin(li.agg(F.count("*").alias("n_checked")))
        .select(
            F.lit("lineitem_orphan_orderkey").alias("rule"),
            "n_violations", "n_checked",
        )
    )
    return (
        rule("lineitem_nonpositive_qty", li, qty_bad)
        .unionByName(rule("lineitem_discount_out_of_range", li, disc_bad))
        .unionByName(rule("orders_nonpositive_price", o, price_bad))
        .unionByName(orphan_orders)
        .unionByName(orphan_lines)
    )


@query(
    "pretraining_corpus_recipe",
    "LLM-pipeline/recipe",
    oracle=None,  # assembled below (needs the stopword-hits SQL helper)
)
def pretraining_corpus_recipe(spark, sf_dir, remove_dup_spans=False,
                              semantic_dedup=False):
    """The COMPOSED text pretraining-data recipe, graded as one unit
    (the text twin of ``multimodal_pipeline_canonical``):
    quality-priority near-dup canonical selection (each cluster of the
    full-corpus pair graph keeps its HIGHEST-scoring member — the
    ``dedup_keep_best_quality`` rule, because the min-id rule throws
    away a cluster's good copy whenever boilerplate has the smaller
    id) → quality filter (composite score >= 0.35, calibrated to keep
    ~55% of the fixture's canonical docs) → leak-free
    train/val/test split (source-hash buckets) → sequence packing
    (2048-token bins via exclusive prefix sum per split) — emitting
    per-split document, token, and bin counts.  This is the
    end-to-end decision chain a corpus build SHIPS, so a regression
    anywhere in the four stages moves a count and hash-fails.

    Scale shape, stage by stage: scoring is one pass of pure JVM
    expressions; canonical selection reuses the shared
    content-addressed pair-graph snapshot + connected components
    (one window bounded by cluster size, 16-byte keys); the split is
    a per-row md5 bucket (no shuffle); packing uses the two-pass
    range-partitioned prefix sum PER SPLIT — no single global-order
    partition anywhere.  The oracle replays all four stages in SQL
    (recursive CTE for the cluster closure).

    ``remove_dup_spans=True`` (round-13 VERDICT task 6, OFF in the
    graded row so the oracle stays the 4-stage replay) prepends the
    exact-substring REMOVAL stage: documents are rewritten by
    ``operators.dedup.remove_duplicate_spans`` before scoring, so
    token counts, quality scores, and packing all see the cleaned
    text — the Lee-et-al. order (substring dedup first, then
    document-level dedup and filtering).

    ``semantic_dedup=True`` (round-14 VERDICT task 5, likewise OFF in
    the graded row) inserts the SEMANTIC tier after canonical
    selection + quality filtering: documents whose embedding
    (``doc_id = vec_id``, the shared id space) was pruned by
    ``operators.dedup.semantic_dedup``'s within-cluster ε-ball rule
    are dropped before the split — the SemDeDup stage a pretraining
    recipe runs between fuzzy text dedup and mixture sampling.  The
    stage's own correctness is graded by ``dedup_semantic_clusters``
    (planted twins + census booleans); a pytest pins the composition
    (flagged recipe counts == unflagged counts minus the
    semantically-pruned kept docs)."""
    from pyspark.sql import Window

    from ..operators import text as tx
    from ..operators.scale import ranged_running_sum
    from .llm_text import near_dup_cluster_labels

    d = table(spark, sf_dir, "documents")
    if remove_dup_spans:
        from ..operators.dedup import remove_duplicate_spans

        cleaned = remove_duplicate_spans(d, n=5)
        d = (
            d.drop("text")
            .join(cleaned.select(
                "doc_id", F.col("text_clean").alias("text")), "doc_id")
        )
    scored = d.select(
        "doc_id", "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        tx.quality_score(F.col("text")).alias("score"),
    )

    cc = near_dup_cluster_labels(spark, sf_dir)
    members = scored.join(
        cc.select(F.col("node").alias("doc_id"), "cluster_id"), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    best = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "source", "n_tok", "score")
    )
    singletons = scored.join(
        cc.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
    )
    kept = best.unionByName(singletons).filter(F.col("score") >= 0.35)
    if semantic_dedup:
        from ..operators.dedup import semantic_dedup as semdedup

        emb = table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding")
        pruned = (
            semdedup(emb, k=8, tau=0.95)
            .filter(F.col("dropped"))
            .select(F.col("vec_id").alias("doc_id"))
        )
        kept = kept.join(pruned, "doc_id", "left_anti")

    bucket = (
        F.conv(F.substring(F.md5("source"), 1, 4), 16, 10).cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
    )
    # checkpoint: three per-split branches below would otherwise each
    # re-run the scoring + canonical-selection upstream (3x the work
    # and 3x the pair-graph scan); the checkpointed frame is
    # |kept docs| x 3 columns
    base = kept.select(
        "doc_id", split.alias("split"), "n_tok"
    ).localCheckpoint()

    packed_parts = []
    for s in ("train", "val", "test"):
        sub = base.filter(F.col("split") == s).select("doc_id", "n_tok")
        packed_parts.append(
            ranged_running_sum(
                sub, [F.asc("doc_id")], "n_tok", "__prefix", exclusive=True
            ).select(
                F.lit(s).alias("split"),
                "n_tok",
                F.floor(F.col("__prefix") / 2048.0).cast("bigint")
                .alias("bin_id"),
            )
        )
    packed = packed_parts[0].unionByName(packed_parts[1]).unionByName(
        packed_parts[2]
    )
    return packed.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        F.countDistinct("bin_id").cast("bigint").alias("n_bins"),
    )


def _recipe_oracle() -> str:
    """Assemble the pretraining-recipe oracle: the four stage CTEs
    reuse the exact SQL of their standalone contract rows."""
    from .llm_extra import _hits_sql

    return f"""
    WITH RECURSIVE toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        )
    ), sizes AS (
        SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
    ), cand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), edges AS (
        SELECT d1, d2
        FROM cand p
        JOIN sizes s1 ON p.d1 = s1.doc_id
        JOIN sizes s2 ON p.d2 = s2.doc_id
        WHERE CAST(p.inter AS DOUBLE) / (s1.sz + s2.sz - p.inter) >= 0.8
    ), sym AS (
        SELECT d1 AS u, d2 AS v FROM edges
        UNION SELECT d2, d1 FROM edges
    ), reach(node, lab) AS (
        SELECT u, u FROM sym
        UNION
        SELECT s.u, r.lab FROM sym s JOIN reach r ON s.v = r.node
    ), clusters AS (
        SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node
    ), scored AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               round(
                 0.5 * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE)
                                  / 100.0)
                 + 0.3 * (CAST(len(list_distinct(string_split(text, ' ')))
                               AS DOUBLE)
                          / len(string_split(text, ' ')))
                 + 0.2 * least(1.0, CAST({_hits_sql('en')} AS DOUBLE) * 5
                                    / len(string_split(text, ' '))),
                 6) AS score
        FROM documents
    ), ranked AS (
        SELECT s.doc_id, s.source, s.n_tok, s.score,
               row_number() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY s.score DESC, s.doc_id
               ) AS rn
        FROM scored s JOIN clusters c ON s.doc_id = c.node
    ), kept AS (
        SELECT doc_id, source, n_tok FROM ranked
        WHERE rn = 1 AND score >= 0.35
        UNION ALL
        SELECT s.doc_id, s.source, s.n_tok
        FROM scored s LEFT JOIN clusters c ON s.doc_id = c.node
        WHERE c.node IS NULL AND s.score >= 0.35
    ), base AS (
        SELECT doc_id, n_tok,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT doc_id, n_tok,
                     CAST(('0x' || substring(md5(source), 1, 4))::INTEGER
                          AS BIGINT) % 100 AS bucket
              FROM kept)
    ), packed AS (
        SELECT split, n_tok,
               CAST(floor(COALESCE(sum(n_tok) OVER (
                   PARTITION BY split ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) / 2048.0) AS BIGINT) AS bin_id
        FROM base
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
           CAST(count(DISTINCT bin_id) AS BIGINT) AS n_bins
    FROM packed GROUP BY split
    """


REGISTRY["pretraining_corpus_recipe"].oracle = _recipe_oracle().strip()


@query(
    "incremental_agg_maintenance",
    "analytics/etl",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def incremental_agg_maintenance(spark, sf_dir):
    """Materialized-aggregate maintenance: yesterday's aggregate table
    (orders with ``o_orderkey % 10 <> 7``) MERGED with today's delta
    batch (``% 10 = 7``) must equal the full recompute — which is
    exactly what the oracle runs.  This is the incremental-view
    contract a 100 TB rollup depends on: count and integer-cent sums
    are commutative monoids, so partial aggregates combine by
    addition without touching history.

    Scale shape: each side partial-aggregates map-side to
    |priorities| rows; the merge is a full-outer join of two tiny
    aggregate frames with coalesce-addition — at 100 TB the base
    aggregate is a stored table read back in, and only the delta
    scans raw data."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")

    def agg_of(df):
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("c"),
        )

    base = agg_of(o.filter(F.col("o_orderkey") % 10 != 7))
    delta = agg_of(o.filter(F.col("o_orderkey") % 10 == 7))
    b = base.select(
        "o_orderpriority",
        F.col("n").alias("bn"), F.col("c").alias("bc"),
    )
    d = delta.select(
        "o_orderpriority",
        F.col("n").alias("dn"), F.col("c").alias("dc"),
    )
    zero = F.lit(0).cast("bigint")
    return b.join(d, "o_orderpriority", "full_outer").select(
        "o_orderpriority",
        (F.coalesce(F.col("bn"), zero) + F.coalesce(F.col("dn"), zero))
        .cast("bigint").alias("n_orders"),
        (F.coalesce(F.col("bc"), zero) + F.coalesce(F.col("dc"), zero))
        .cast("bigint").alias("sum_cents"),
    )


@query(
    "deletion_propagation_cascade",
    "analytics/etl",
    oracle="""
    WITH erase AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 100 = 7
    )
    SELECT CAST((SELECT count(*) FROM erase) AS BIGINT)
               AS n_customers_erased,
           CAST((SELECT count(*) FROM orders o
                 WHERE EXISTS (SELECT 1 FROM erase e
                               WHERE e.c_custkey = o.o_custkey))
                AS BIGINT) AS n_orders_cascaded,
           CAST((SELECT count(*) FROM lineitem l
                 WHERE EXISTS (
                     SELECT 1 FROM orders o
                     JOIN erase e ON e.c_custkey = o.o_custkey
                     WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_lineitems_cascaded,
           CAST((SELECT count(*) FROM events ev
                 WHERE EXISTS (SELECT 1 FROM erase e
                               WHERE e.c_custkey = ev.user_id))
                AS BIGINT) AS n_events_cascaded
    """,
)
def deletion_propagation_cascade(spark, sf_dir):
    """Right-to-erasure propagation: given a deletion request list
    (customers with ``c_custkey % 100 = 7`` as the stand-in), count
    every row that must cascade — their orders, those orders' line
    items, and their event history — the blast-radius report a
    privacy pipeline produces BEFORE executing the cascade.

    Scale shape: the request list is broadcast (semi joins — never a
    fan-out), the lineitem cascade rides the already-reduced order-key
    set (two-hop semi join), and each count partial-aggregates
    map-side.  The actual delete at 100 TB is the same joins written
    as anti joins into the next snapshot."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    ev = table(spark, sf_dir, "events")
    erase = c.filter(F.col("c_custkey") % 100 == 7).select("c_custkey")
    doomed_orders = o.join(
        F.broadcast(erase), o.o_custkey == erase.c_custkey, "left_semi"
    )
    doomed_lines = li.join(
        doomed_orders.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )
    doomed_events = ev.join(
        F.broadcast(erase), ev.user_id == erase.c_custkey, "left_semi"
    )
    return (
        erase.agg(F.count("*").cast("bigint").alias("n_customers_erased"))
        .crossJoin(
            doomed_orders.agg(
                F.count("*").cast("bigint").alias("n_orders_cascaded")
            )
        )
        .crossJoin(
            doomed_lines.agg(
                F.count("*").cast("bigint").alias("n_lineitems_cascaded")
            )
        )
        .crossJoin(
            doomed_events.agg(
                F.count("*").cast("bigint").alias("n_events_cascaded")
            )
        )
    )
