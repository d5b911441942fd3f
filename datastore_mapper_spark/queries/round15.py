"""Round-15 flagship additions: SemDeDup semantic-tier deduplication
over the IVF k-means clusters, and token-budget-weighted domain
mixture sampling — the two pipeline stages a pretraining corpus
recipe runs between fuzzy dedup and training-set emission.

Grading pattern (the ``bq_knn_recall_verified`` contract): hashed
rows are exact facts DuckDB can state from the raw tables (planted
semantic twins, exact token accounting); the clustering/sampling
machinery is certified by census booleans computed from independent
recomputation, never by hashing engine-dependent internals.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query

#: planted-twin id offset: far above any fixture vec_id at any SF
_TWIN_OFF = 100_000_000


@query(
    "dedup_semantic_clusters",
    "LLM-pipeline",
    oracle="""
    SELECT CAST(vec_id + 100000000 AS BIGINT) AS twin_id,
           CAST(vec_id AS BIGINT) AS src_id,
           TRUE AS dropped,
           TRUE AS twins_dropped_ok,
           TRUE AS drops_justified_ok,
           TRUE AS survivors_separated_ok,
           TRUE AS partition_exact_ok
    FROM embeddings
    WHERE vec_id % 17 = 3
    """,
)
def dedup_semantic_clusters(spark, sf_dir):
    """SemDeDup semantic dedup (round-14 VERDICT task 5 — Abbas et
    al. 2023, `operators/dedup.py:semantic_dedup`): the corpus plus
    one PLANTED identical twin per ``vec_id % 17 = 3`` vector runs
    through spherical-k-means clustering + within-cluster
    ANY-LOWER-ID-WITNESS pruning (τ = 0.95): a vector drops when any
    lower-id same-cluster vector sits within ε, whether or not that
    witness itself survives (round-15 ADVICE: this is deliberately
    NOT the iterative greedy fixpoint — in a chain A~B~C with A≁C
    the greedy rule would keep C; this rule drops it, trading a
    strictly more aggressive prune for a one-pass join).  An
    identical twin
    has cosine 1 with its lower-id source and lands in the same
    cluster under any assignment, so its fate is
    clustering-independent: the hashed rows are every twin's verdict
    (``dropped`` must read TRUE), restated by the oracle from the raw
    table.

    The kept-set itself depends on the codebook, so it is certified
    by INDEPENDENTLY recomputed census booleans instead of hashed:
    ``drops_justified_ok`` — every dropped vector has a same-cluster
    lower-id witness with cosine ≥ τ, kept or not (no unforced
    drops); ``survivors_separated_ok`` — no two survivors of one
    cluster are ε-close (the SemDeDup postcondition);
    ``partition_exact_ok`` — verdicts partition the corpus exactly.
    Together the three prove the output IS the any-lower-id-witness
    rule's verdict set for whatever clustering ran (they do NOT pin
    the greedy fixpoint — see the operator docstring).

    Scale posture: the only pair-generating step is the per-cluster
    self-join (k scales with n; the paper's k ≈ 100k at 5B vectors);
    codebook training is sample-based; assignment is one broadcast-k
    scan.  Composed into ``pretraining_corpus_recipe`` behind its
    ``semantic_dedup`` flag."""
    from ..operators.dedup import semantic_dedup
    from ..operators.similarity import dot, unit

    tau = 0.95
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = (emb.filter(F.col("vec_id") % 17 == 3)
             .select((F.col("vec_id") + _TWIN_OFF).alias("vec_id"),
                     "embedding"))
    corpus = emb.unionByName(twins)
    # k is SemDeDup's blocking knob (k ≈ n / target_cluster_size, the
    # paper's own scaling rule): pinning k=8 at every SF made the
    # within-cluster self-join quadratic in n (optimization guide
    # §2.5 — per-task pair cost must stay bounded).  Target ~64 rows
    # per cluster; at the oracle SFs (n ≤ ~250) this still resolves to
    # k=8, and the printed rows are clustering-independent by
    # construction (twins share their source's cluster under ANY
    # codebook; the receipts are recomputed against the actual one).
    n_corpus = corpus.count()
    k = max(8, n_corpus // 64)
    verdicts = semantic_dedup(corpus, k=k, tau=tau).localCheckpoint()
    # --- independent receipt recomputation (not the operator's pair
    # frame: a fresh per-cluster self-join over the verdicts) ---
    u = (corpus.select("vec_id", unit(F.col("embedding")).alias("_u"))
         .join(verdicts, "vec_id"))
    a = u.select(F.col("vec_id").alias("id1"), F.col("_u").alias("u1"),
                 "cid", F.col("dropped").alias("d1"))
    b = u.select(F.col("vec_id").alias("id2"), F.col("_u").alias("u2"),
                 F.col("cid").alias("cid2"), F.col("dropped").alias("d2"))
    close = (
        a.join(b, (F.col("cid") == F.col("cid2"))
               & (F.col("id1") < F.col("id2")))
        # unit vectors: dot == cosine, one fold per pair not three —
        # same single-pass form the operator itself scores with
        .filter(dot(F.col("u1"), F.col("u2")) >= tau)
        .select("id1", "id2", "d1", "d2")
        .localCheckpoint()
    )
    # isEmpty(), not limit(1).count() == 0: a limit inside a codegen
    # stage takes its counter's name from a JVM-wide sequence, so every
    # call would compile fresh classes that no codegen cache can reuse
    separated = close.filter(~F.col("d1") & ~F.col("d2")).isEmpty()
    justified = (
        verdicts.filter(F.col("dropped"))
        .join(close.select(F.col("id2").alias("vec_id")).distinct(),
              "vec_id", "left_anti")
        .isEmpty()
    )
    partition_exact = verdicts.count() == n_corpus
    twins_dropped = (
        verdicts.filter((F.col("vec_id") >= _TWIN_OFF)
                        & ~F.col("dropped"))
        .isEmpty()
    )
    return (
        verdicts.filter(F.col("vec_id") >= _TWIN_OFF)
        .select(
            F.col("vec_id").cast("bigint").alias("twin_id"),
            (F.col("vec_id") - _TWIN_OFF).cast("bigint").alias("src_id"),
            "dropped",
            F.lit(bool(twins_dropped)).alias("twins_dropped_ok"),
            F.lit(bool(justified)).alias("drops_justified_ok"),
            F.lit(bool(separated)).alias("survivors_separated_ok"),
            F.lit(bool(partition_exact)).alias("partition_exact_ok"),
        )
    )


@query(
    "sample_domain_mixture_budget",
    "sampling",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST((doc_id * 1103515245 + 12345) % 2147483648
                    AS DOUBLE) / 2147483648.0 AS u
        FROM documents
    ), dom AS (
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs_domain,
               CAST(sum(n_tok) AS BIGINT) AS n_tok_domain,
               CASE WHEN lang = 'en' THEN 1 ELSE 2 END AS w
        FROM d GROUP BY lang, source
    ), tot AS (
        SELECT CAST(sum(n_tok_domain) AS BIGINT) AS t,
               CAST(sum(w * n_tok_domain) AS BIGINT) AS wt
        FROM dom
    ), alloc AS (
        SELECT lang, source, n_docs_domain, n_tok_domain,
               LEAST((tot.t // 5) // 50,
                     (tot.t // 5) * w * n_tok_domain // tot.wt)
                   AS alloc_tokens
        FROM dom, tot
    ), cum AS (
        SELECT lang, source, n_tok,
               sum(n_tok) OVER (PARTITION BY lang, source
                                ORDER BY u, doc_id) AS c
        FROM d
    )
    SELECT a.lang, a.source, a.n_docs_domain, a.n_tok_domain,
           CAST(a.alloc_tokens AS BIGINT) AS alloc_tokens,
           CAST(coalesce(sum(CASE WHEN c.c <= a.alloc_tokens
                                  THEN 1 END), 0) AS BIGINT)
               AS n_docs_sampled,
           CAST(coalesce(sum(CASE WHEN c.c <= a.alloc_tokens
                                  THEN c.n_tok END), 0) AS BIGINT)
               AS tok_sampled
    FROM alloc a JOIN cum c ON a.lang = c.lang AND a.source = c.source
    GROUP BY a.lang, a.source, a.n_docs_domain, a.n_tok_domain,
             a.alloc_tokens
    """,
)
def sample_domain_mixture_budget(spark, sf_dir):
    """TOKEN-BUDGET-WEIGHTED DOMAIN MIXTURE sampling (round-14 VERDICT
    task 7 — the mixture layer a pretraining run puts over its corpus:
    'sample 20% of total tokens, upweight non-English 2x, no domain
    above 2% of the budget').  Three exact-integer stages:

    * ACCOUNTING — per-(lang, source) domain doc/token masses, all
      bigint (the exact token accounting the oracle restates);
    * ALLOCATION — global budget B = total_tokens DIV 5; domain d
      gets ``min(B DIV 50, B·w_d·tok_d DIV Σw·tok)`` where w is the
      mixture weight (non-en upweighted 2x) — weighted-proportional
      with a per-domain cap, pure bigint arithmetic (products bounded
      by (Σtok)², within int64 to ~sf1000 — document before raising);
    * SELECTION — within each domain, docs rank by the same
      dyadic-rational LCG uniform as ``sample_stratified_proportional``
      (u = (id·1103515245+12345) mod 2³¹ / 2³¹ — EXACT in a double,
      zero FP seam) and fill the allocation greedily: a doc is kept
      while the running inclusive token prefix stays ≤ alloc.

    Hashed rows are the full per-domain ledger (masses, allocation,
    sampled doc/token counts) — the oracle replays all three stages,
    so a mis-weighted domain, a cap miss, an off-by-one prefix, or a
    drifting uniform each shifts a ledger cell.  At 100 TB: one
    dictionary-tier groupBy for the ledger, one broadcast of the
    ~|domains| allocation table, one window partitioned by domain —
    no global sort, no driver row data (the two driver scalars are
    the budget totals)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        (((F.col("doc_id") * F.lit(1103515245) + F.lit(12345))
          % F.lit(2147483648)).cast("double")
         / F.lit(2147483648.0)).alias("u"),
    )
    w = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(2))
    dom = d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs_domain"),
        F.sum("n_tok").cast("bigint").alias("n_tok_domain"),
    ).withColumn("w", w.cast("bigint"))
    totals = dom.agg(
        F.sum("n_tok_domain").cast("bigint").alias("t"),
        F.sum(F.col("w") * F.col("n_tok_domain")).cast("bigint")
        .alias("wt")).first()
    out_schema = ("lang string, source string, n_docs_domain bigint, "
                  "n_tok_domain bigint, alloc_tokens bigint, "
                  "n_docs_sampled bigint, tok_sampled bigint")
    if totals is None or totals.t is None or totals.t == 0:
        return spark.createDataFrame([], out_schema)
    budget, wt = int(totals.t) // 5, int(totals.wt)
    alloc = dom.select(
        "lang", "source", "n_docs_domain", "n_tok_domain",
        F.least(
            F.lit(budget // 50).cast("bigint"),
            F.expr(f"CAST({budget} AS BIGINT) * w * n_tok_domain "
                   f"DIV CAST({wt} AS BIGINT)"),
        ).alias("alloc_tokens"))
    from pyspark.sql.window import Window as W

    cum = d.withColumn(
        "c", F.sum("n_tok").over(
            W.partitionBy("lang", "source")
            .orderBy(F.col("u"), F.col("doc_id"))))
    keep = F.col("c") <= F.col("alloc_tokens")
    return (
        cum.join(F.broadcast(alloc), ["lang", "source"])
        .groupBy("lang", "source", "n_docs_domain", "n_tok_domain",
                 "alloc_tokens")
        .agg(
            F.coalesce(F.sum(F.when(keep, F.lit(1))), F.lit(0))
            .cast("bigint").alias("n_docs_sampled"),
            F.coalesce(F.sum(F.when(keep, F.col("n_tok"))), F.lit(0))
            .cast("bigint").alias("tok_sampled"),
        )
    )


@query(
    "decontaminate_train_eval",
    "LLM-pipeline",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               string_split(text, ' ') AS t,
               CAST(('0x' || substring(md5(source), 1, 4))::INTEGER
                    AS BIGINT) % 100 AS bucket
        FROM documents
    ), tr AS (
        SELECT * FROM d WHERE bucket < 80
    ), ev AS (
        SELECT * FROM d WHERE bucket >= 90
    ), evg AS (
        SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS g
        FROM ev, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
        WHERE len(t) >= 5
    ), trg AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS g
        FROM tr, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
        WHERE len(t) >= 5
    ), bad AS (
        SELECT DISTINCT trg.doc_id FROM trg JOIN evg USING (g)
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_train,
           CAST(coalesce(sum(CASE WHEN bad.doc_id IS NOT NULL
                                  THEN 1 END), 0) AS BIGINT)
               AS n_contaminated,
           CAST(coalesce(sum(CASE WHEN bad.doc_id IS NOT NULL
                                  THEN n_tok END), 0) AS BIGINT)
               AS tok_dropped,
           CAST(coalesce(sum(CASE WHEN bad.doc_id IS NULL
                                  THEN n_tok END), 0) AS BIGINT)
               AS tok_kept
    FROM tr LEFT JOIN bad USING (doc_id)
    GROUP BY lang
    """,
)
def decontaminate_train_eval(spark, sf_dir):
    """TRAIN/EVAL DECONTAMINATION (the GPT-3/PaLM appendix step: drop
    any training document sharing an exact n-gram with the held-out
    set): documents split leak-free by source-hash bucket (train <80,
    eval >=90 — the same md5 rule as ``pretraining_corpus_recipe``'s
    splitter), every positional 5-gram of the eval set becomes a
    contamination key, and a train document dies if ANY of its
    5-grams hits the key set.  Hashed rows are the per-language
    decontamination ledger: train size, contaminated count, token
    mass dropped vs kept — the numbers a corpus audit publishes.

    Plan shape: shingling is JVM ``transform(sequence(...))``; the
    contamination test is a DISTINCT-gram semi-join co-partitioned on
    the gram key — never doc×doc.  At 100 TB the grams ride as
    xxhash64 keys (string form kept so DuckDB reproduces exactly) and
    the eval side is millions of grams vs the corpus's trillions, so
    the join broadcasts or bucket-joins on the small side."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        F.split("text", " ").alias("t"),
        (F.conv(F.substring(F.md5("source"), 1, 4), 16, 10)
         .cast("bigint") % 100).alias("bucket"),
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.size("t") - 4),
        lambda i: F.array_join(F.slice("t", i, 5), " "),
    )
    tr = d.filter(F.col("bucket") < 80)
    ev = d.filter(F.col("bucket") >= 90)
    evg = (ev.filter(F.size("t") >= 5)
           .select(F.explode(grams).alias("g")).distinct())
    trg = (tr.filter(F.size("t") >= 5)
           .select("doc_id", F.explode(grams).alias("g")).distinct())
    bad = (trg.join(evg, "g", "left_semi")
           .select("doc_id").distinct()
           .withColumn("_bad", F.lit(True)))
    hit = F.col("_bad").isNotNull()
    return (
        tr.join(bad, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_train"),
            F.coalesce(F.sum(F.when(hit, F.lit(1))), F.lit(0))
            .cast("bigint").alias("n_contaminated"),
            F.coalesce(F.sum(F.when(hit, F.col("n_tok"))), F.lit(0))
            .cast("bigint").alias("tok_dropped"),
            F.coalesce(F.sum(F.when(~hit, F.col("n_tok"))), F.lit(0))
            .cast("bigint").alias("tok_kept"),
        )
    )


@query(
    "mixture_epochs_upsample",
    "sampling",
    oracle="""
    WITH d AS (
        SELECT lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), dom AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS tok_d,
               CASE WHEN lang = 'en' THEN 1 ELSE 3 END AS w
        FROM d GROUP BY lang
    ), tot AS (
        SELECT CAST(sum(tok_d) AS BIGINT) AS t,
               CAST(sum(w * tok_d) AS BIGINT) AS wt
        FROM dom
    )
    SELECT lang, n_docs, tok_d,
           CAST(2 * tot.t * w * tok_d // tot.wt AS BIGINT)
               AS target_tokens,
           CAST((2 * tot.t * w * tok_d // tot.wt + tok_d - 1) // tok_d
                AS BIGINT) AS epochs,
           CAST(((2 * tot.t * w * tok_d // tot.wt + tok_d - 1)
                 // tok_d) * tok_d AS BIGINT) AS replicated_tokens
    FROM dom, tot
    """,
)
def mixture_epochs_upsample(spark, sf_dir):
    """MIXTURE UPSAMPLING ledger — the other half of
    ``sample_domain_mixture_budget``: when a domain's target token
    share EXCEEDS its corpus mass, the pipeline replays it for
    multiple EPOCHS (the Llama/GPT data-mixture tables: 'books x2.4
    epochs').  Budget = 2x total tokens, non-en upweighted 3x; each
    language's target is its weighted-proportional share and its
    epoch count is the exact ceiling ``(target + tok_d − 1) DIV
    tok_d``, all bigint (no FP ceil).  Hashed rows are the
    replication plan a training run executes: per-language doc/token
    mass, token target, epochs, and the replicated token mass
    actually delivered.  Dictionary-tier throughout — one groupBy,
    one broadcast scalar pair."""
    d = table(spark, sf_dir, "documents").select(
        "lang", F.size(F.split("text", " ")).cast("bigint").alias("n_tok"))
    w = F.when(F.col("lang") == "en", F.lit(1)).otherwise(F.lit(3))
    dom = d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tok_d"),
    ).withColumn("w", w.cast("bigint"))
    totals = dom.agg(
        F.sum("tok_d").cast("bigint").alias("t"),
        F.sum(F.col("w") * F.col("tok_d")).cast("bigint").alias("wt"),
    ).first()
    schema = ("lang string, n_docs bigint, tok_d bigint, "
              "target_tokens bigint, epochs bigint, "
              "replicated_tokens bigint")
    if totals is None or totals.t is None or totals.t == 0:
        return spark.createDataFrame([], schema)
    t, wt = int(totals.t), int(totals.wt)
    target = F.expr(f"CAST(2 AS BIGINT) * {t} * w * tok_d DIV {wt}")
    return dom.select(
        "lang", "n_docs", "tok_d",
        target.alias("target_tokens"),
        F.expr(f"(CAST(2 AS BIGINT) * {t} * w * tok_d DIV {wt} "
               f"+ tok_d - 1) DIV tok_d").alias("epochs"),
        F.expr(f"((CAST(2 AS BIGINT) * {t} * w * tok_d DIV {wt} "
               f"+ tok_d - 1) DIV tok_d) * tok_d")
        .alias("replicated_tokens"),
    )


@query(
    "chunk_documents_fixed_stride",
    "LLM-pipeline",
    oracle="""
    WITH d AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents
    ), ch AS (
        SELECT lang, n_tok, s.start,
               LEAST(64, n_tok - s.start) AS chunk_len
        FROM d, UNNEST(generate_series(0, n_tok - 1, 48)) AS s(start)
        WHERE n_tok >= 1
    )
    SELECT lang,
           CAST(count(DISTINCT n_tok * 1000003 + start) AS BIGINT)
               AS n_chunk_shapes,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(chunk_len) AS BIGINT) AS sum_chunk_tokens,
           CAST(sum(CASE WHEN chunk_len = 64 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_full_chunks
    FROM ch GROUP BY lang
    """,
)
def chunk_documents_fixed_stride(spark, sf_dir):
    """CONTEXT-WINDOW CHUNKING with overlap (the pretraining/RAG
    packing primitive: 64-token windows, stride 48, so consecutive
    chunks share 16 tokens): every document explodes into its window
    starts ``0, 48, 96, … < n_tok`` via a JVM ``sequence`` — no
    Python, no self-join — and each chunk's length is
    ``min(64, n_tok − start)``.  Hashed rows are the per-language
    chunk ledger: chunk count, total chunk-token mass (> corpus mass
    by exactly the overlap duplication), full-window count, and the
    distinct (doc-length, start) shape count — together they pin the
    window arithmetic exactly (an off-by-one stride, a dropped tail
    chunk, or a fencepost in the overlap each shifts a cell).  At
    100 TB this is one narrow projection + explode, shuffled only by
    the final dictionary-tier groupBy."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"))
    ch = (
        d.filter(F.col("n_tok") >= 1)
        .select(
            "lang", "n_tok",
            F.explode(
                F.sequence(F.lit(0).cast("bigint"),
                           F.col("n_tok") - 1,
                           F.lit(48).cast("bigint"))).alias("start"))
        .withColumn("chunk_len",
                    F.least(F.lit(64).cast("bigint"),
                            F.col("n_tok") - F.col("start")))
    )
    return ch.groupBy("lang").agg(
        F.countDistinct(F.col("n_tok") * 1000003 + F.col("start"))
        .cast("bigint").alias("n_chunk_shapes"),
        F.count("*").alias("n_chunks"),
        F.sum("chunk_len").cast("bigint").alias("sum_chunk_tokens"),
        F.sum(F.when(F.col("chunk_len") == 64, 1).otherwise(0))
        .cast("bigint").alias("n_full_chunks"),
    )


@query(
    "cramer_von_mises_doc_lengths",
    "analytics/stats",
    oracle="""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' THEN 0 ELSE 1 END AS grp,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS v
        FROM documents
    ), r AS (
        SELECT grp,
               CAST(row_number() OVER (ORDER BY v, doc_id) AS BIGINT)
                   AS rk,
               CAST(row_number() OVER (PARTITION BY grp
                                       ORDER BY v, doc_id) AS BIGINT)
                   AS i
        FROM d
    ), s AS (
        SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n,
               CAST(sum(grp) AS BIGINT) AS m,
               CAST(coalesce(sum(CASE WHEN grp = 0
                                      THEN (rk - i) * (rk - i) END), 0)
                    AS BIGINT) AS ux,
               CAST(coalesce(sum(CASE WHEN grp = 1
                                      THEN (rk - i) * (rk - i) END), 0)
                    AS BIGINT) AS uy
        FROM r
    )
    SELECT n, m,
           round((CAST(n AS DOUBLE) * ux + CAST(m AS DOUBLE) * uy)
                 / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)
                    * CAST(n + m AS DOUBLE))
                 - (4.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE) - 1.0)
                   / (6.0 * CAST(n + m AS DOUBLE)), 6) AS t_cvm
    FROM s WHERE n >= 1 AND m >= 1
    """,
)
def cramer_von_mises_doc_lengths(spark, sf_dir):
    """CRAMÉR-VON MISES two-sample test (Anderson's rank form) on
    document token counts, English vs non-English: T = U/(nm·N) −
    (4nm−1)/(6N) with U = n·Σ(r_i−i)² + m·Σ(s_j−j)² over combined
    ranks r and within-sample indexes i.  Ranks tie-break on
    (value, doc_id) — the tie-broken variant, deterministic and
    IDENTICAL on both engines (midrank ties would be FP-free too but
    engines disagree on rank averaging forms; documented choice).
    U is exact bigint (bounded by N³ — int64-safe past 10⁶ docs per
    evaluation slice); T is one double expression.  Two windows
    (global rank + per-group index) and one aggregate — at 100 TB
    the global rank runs through the two-pass ranged-rank operator
    instead of one ORDER BY partition."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(0)).otherwise(F.lit(1))
        .alias("grp"),
        F.size(F.split("text", " ")).cast("bigint").alias("v"))
    from pyspark.sql.window import Window as W

    r = d.select(
        "grp",
        F.row_number().over(W.orderBy("v", "doc_id"))
        .cast("bigint").alias("rk"),
        F.row_number().over(W.partitionBy("grp").orderBy("v", "doc_id"))
        .cast("bigint").alias("i"))
    s = r.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint").alias("n"),
        F.sum("grp").cast("bigint").alias("m"),
        F.coalesce(F.sum(F.when(
            F.col("grp") == 0,
            (F.col("rk") - F.col("i")) * (F.col("rk") - F.col("i")))),
            F.lit(0)).cast("bigint").alias("ux"),
        F.coalesce(F.sum(F.when(
            F.col("grp") == 1,
            (F.col("rk") - F.col("i")) * (F.col("rk") - F.col("i")))),
            F.lit(0)).cast("bigint").alias("uy"),
    )
    nD, mD = F.col("n").cast("double"), F.col("m").cast("double")
    return (
        s.filter((F.col("n") >= 1) & (F.col("m") >= 1))
        .select(
            "n", "m",
            F.round((nD * F.col("ux") + mD * F.col("uy"))
                    / (nD * mD * (F.col("n") + F.col("m")).cast("double"))
                    - (4.0 * nD * mD - 1.0)
                    / (6.0 * (F.col("n") + F.col("m")).cast("double")),
                    6).alias("t_cvm"))
    )


@query(
    "heaps_law_vocab_growth",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), firsts AS (
        SELECT tok, min(doc_id) AS fd FROM toks GROUP BY tok
    ), per_doc AS (
        SELECT d.doc_id,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
               CAST(coalesce(f.n_new, 0) AS BIGINT) AS n_new
        FROM documents d
        LEFT JOIN (SELECT fd AS doc_id,
                          CAST(count(*) AS BIGINT) AS n_new
                   FROM firsts GROUP BY fd) f USING (doc_id)
    ), cum AS (
        SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT)
                   AS rk,
               CAST(sum(n_tok) OVER (ORDER BY doc_id) AS BIGINT)
                   AS cum_tokens,
               CAST(sum(n_new) OVER (ORDER BY doc_id) AS BIGINT)
                   AS cum_vocab
        FROM per_doc
    ), nn AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM per_doc
    )
    SELECT k.k AS decile,
           c.rk AS checkpoint_rank,
           c.cum_tokens, c.cum_vocab
    FROM (SELECT unnest(generate_series(1, 10)) AS k) k
    CROSS JOIN nn
    JOIN cum c ON c.rk = (k.k * nn.n) // 10
              AND (k.k * nn.n) // 10 >= 1
    """,
)
def heaps_law_vocab_growth(spark, sf_dir):
    """HEAPS'-LAW vocabulary growth curve — the corpus diagnostic
    behind 'is more data still adding new tokens?' (pairs with the
    existing Zipf slope): cumulative DISTINCT vocabulary vs cumulative
    token mass, sampled at ten document-count decile checkpoints.
    The running distinct is computed WITHOUT distinct-state: each
    token contributes at its FIRST document (min(doc_id) per token —
    one groupBy), so the curve is two plain integer window sums over
    doc order, exact on both engines (running DOUBLE window sums are
    not order-stable cross-engine; integer ones are — SURVEY §7.3).
    Checkpoints are ``rank = k·n DIV 10`` in exact integer math.  At
    100 TB: the first-occurrence groupBy shuffles 8-byte-hashable
    tokens once, the prefix sums ride the two-pass ranged window, and
    the checkpoint join is a 10-row broadcast."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("doc_id"))
    n_new = firsts.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_new"))
    per_doc = (
        d.select("doc_id",
                 F.size(F.split("text", " ")).cast("bigint")
                 .alias("n_tok"))
        .join(n_new, "doc_id", "left")
        .select("doc_id", "n_tok",
                F.coalesce(F.col("n_new"), F.lit(0)).cast("bigint")
                .alias("n_new"))
    )
    from pyspark.sql.window import Window as W

    w = W.orderBy("doc_id")
    cum = per_doc.select(
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.sum("n_tok").over(w).cast("bigint").alias("cum_tokens"),
        F.sum("n_new").over(w).cast("bigint").alias("cum_vocab"))
    n = per_doc.count()
    ks = spark.range(1, 11).select(F.col("id").cast("bigint").alias("k"))
    chk = ks.select(
        "k", F.expr(f"k * CAST({n} AS BIGINT) DIV 10").alias("rk"))
    return (
        cum.join(F.broadcast(chk.filter(F.col("rk") >= 1)), "rk")
        .select(F.col("k").alias("decile"),
                F.col("rk").alias("checkpoint_rank"),
                "cum_tokens", "cum_vocab")
    )


@query(
    "mattr_lexical_diversity",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) - 1 AS i,
               len(string_split(text, ' ')) AS n
        FROM documents
    ), windowed AS (
        SELECT doc_id, lang, tok, i // 50 AS w
        FROM toks
        WHERE i < (n // 50) * 50
    ), per_window AS (
        SELECT lang, doc_id, w,
               CAST(count(DISTINCT tok) AS BIGINT) AS d
        FROM windowed GROUP BY lang, doc_id, w
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(sum(d) AS BIGINT) AS distinct_sum,
           round(CAST(sum(d) AS DOUBLE)
                 / (50.0 * CAST(count(*) AS DOUBLE)), 6) AS mattr
    FROM per_window GROUP BY lang
    """,
)
def mattr_lexical_diversity(spark, sf_dir):
    """WINDOWED TYPE-TOKEN RATIO (the MATTR lexical-diversity score a
    quality pipeline pairs with Yule's K): each document splits into
    NON-OVERLAPPING 50-token windows (tail fragments dropped — only
    complete windows score, so document length never biases the
    ratio), each window contributes its distinct-token count, and a
    language's MATTR is Σdistinct / (50 · windows) — exact integers
    up to the ONE final division (§7.3-H2: mean-of-ratios with a
    COMMON denominator is a ratio-of-sums, so no FP accumulation).
    Hashed: per-language window count, exact distinct mass, and the
    rounded score.  Plan: one posexplode + a (doc, window, tok)
    distinct aggregate — token-shuffle-sized, dictionary-tier output;
    at 100 TB the distinct rides xxhash64(tok) 8-byte keys."""
    d = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    toks = d.select(
        "doc_id", "lang", F.size(t).alias("n"),
        F.posexplode(t).alias("i", "tok"))
    windowed = (
        toks.filter(F.col("i")
                    < (F.col("n") - F.col("n") % 50))
        .select("lang", "doc_id", "tok",
                (F.col("i") - F.col("i") % 50).alias("w"))
    )
    per_window = windowed.groupBy("lang", "doc_id", "w").agg(
        F.countDistinct("tok").cast("bigint").alias("d"))
    return per_window.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_windows"),
        F.sum("d").cast("bigint").alias("distinct_sum"),
        F.round(F.sum("d").cast("double")
                / (50.0 * F.count("*").cast("double")), 6)
        .alias("mattr"),
    )


@query(
    "fleiss_kappa_quality_raters",
    "analytics/stats",
    oracle="""
    WITH rated AS (
        SELECT (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
                + CASE WHEN len(string_split(text, ' ')) >= 40
                       THEN 1 ELSE 0 END
                + CASE WHEN n_chars >= 4 * len(string_split(text, ' '))
                       THEN 1 ELSE 0 END) AS n1
        FROM documents
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n1) AS BIGINT) AS y_total,
               CAST(sum(n1 * n1 + (3 - n1) * (3 - n1)) AS BIGINT)
                   AS sq_total
        FROM rated
    )
    SELECT n_docs, y_total, sq_total,
           round(((CAST(sq_total AS DOUBLE) - 3.0 * n_docs)
                    / (6.0 * n_docs)
                  - (CAST(y_total AS DOUBLE) / (3.0 * n_docs)
                       * (CAST(y_total AS DOUBLE) / (3.0 * n_docs))
                     + (1.0 - CAST(y_total AS DOUBLE) / (3.0 * n_docs))
                       * (1.0 - CAST(y_total AS DOUBLE)
                          / (3.0 * n_docs))))
                 / (1.0
                    - (CAST(y_total AS DOUBLE) / (3.0 * n_docs)
                         * (CAST(y_total AS DOUBLE) / (3.0 * n_docs))
                       + (1.0 - CAST(y_total AS DOUBLE) / (3.0 * n_docs))
                         * (1.0 - CAST(y_total AS DOUBLE)
                            / (3.0 * n_docs)))), 6) AS kappa
    FROM s
    WHERE n_docs >= 1
      AND NOT (y_total = 0 OR y_total = 3 * n_docs)
    """,
)
def fleiss_kappa_quality_raters(spark, sf_dir):
    """FLEISS' KAPPA across THREE document-quality raters (char gate,
    token gate, avg-word-length gate) — the multi-rater
    generalization of the existing Cohen's kappa row: per-item
    agreement P̄ = (Σ(n₁² + (3−n₁)²) − 3N) / 6N from the exact
    integer yes-counts, chance agreement from the pooled category
    rates, κ = (P̄−P̄e)/(1−P̄e) as ONE double expression over three
    bigint sufficient statistics (N, Σn₁, Σsquares).  The guard drops
    the degenerate unanimous corpus (P̄e = 1) identically on both
    engines.  One conditional-aggregate pass — dictionary-tier."""
    d = table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    n1 = ((F.col("n_chars") >= 200).cast("int")
          + (ntok >= 40).cast("int")
          + (F.col("n_chars") >= 4 * ntok).cast("int"))
    s = d.select(n1.alias("n1")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n1").cast("bigint").alias("y_total"),
        F.sum(F.col("n1") * F.col("n1")
              + (3 - F.col("n1")) * (3 - F.col("n1")))
        .cast("bigint").alias("sq_total"),
    )
    nD = F.col("n_docs").cast("double")
    p = F.col("y_total").cast("double") / (3.0 * nD)
    pbar = (F.col("sq_total").cast("double") - 3.0 * nD) / (6.0 * nD)
    pe = p * p + (1.0 - p) * (1.0 - p)
    return (
        s.filter((F.col("n_docs") >= 1)
                 & ~((F.col("y_total") == 0)
                     | (F.col("y_total") == 3 * F.col("n_docs"))))
        .select("n_docs", "y_total", "sq_total",
                F.round((pbar - pe) / (1.0 - pe), 6).alias("kappa"))
    )


@query(
    "grubbs_outlier_daily_revenue",
    "analytics/stats",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS c
        FROM orders GROUP BY o_orderdate
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(c AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sx,
               CAST(sum(CAST(c AS DECIMAL(38,0))
                        * CAST(c AS DECIMAL(38,0))) AS DECIMAL(38,0))
                   AS sxx
        FROM daily
    ), dev AS (
        SELECT daily.d, daily.c, s.n, s.sx, s.sxx,
               abs(CAST(s.n AS DECIMAL(38,0)) * CAST(daily.c
                   AS DECIMAL(38,0)) - s.sx) AS md,
               row_number() OVER (
                   ORDER BY abs(CAST(s.n AS DECIMAL(38,0))
                                * CAST(daily.c AS DECIMAL(38,0))
                                - s.sx) DESC, daily.d) AS rn
        FROM daily, s
    )
    SELECT d AS outlier_day, c AS outlier_cents, n AS n_days,
           round((CAST(md AS DOUBLE) / n)
                 / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        / (CAST(n AS DOUBLE) * (n - 1))), 6) AS g_stat
    FROM dev
    WHERE rn = 1 AND n >= 3
      AND CAST(n AS DECIMAL(38,0)) * sxx - sx * sx > 0
    """,
)
def grubbs_outlier_daily_revenue(spark, sf_dir):
    """GRUBBS' maximum-normed-residual test on daily revenue: the
    most-extreme day's G = max|x − x̄| / s, computed without ever
    materializing the mean — the deviation ranks by the exact integer
    |n·x − Σx| (DECIMAL(38,0): cents·days stays in range far past
    sf100), the winner tie-breaks on date, and G is ONE double
    expression over (n, Σx, Σx², max|n·x − Σx|).  Complements the
    streaming z-score anomaly row with the classical single-outlier
    test.  One day-dictionary rollup + one broadcast of the 1-row
    moment frame + one window over the day dictionary — at 100 TB
    everything after the first rollup is calendar-sized."""
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint").alias("c"))
    dec = lambda e: e.cast("decimal(38,0)")
    s = daily.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(dec(F.col("c"))).cast("decimal(38,0)").alias("sx"),
        F.sum(dec(F.col("c")) * dec(F.col("c")))
        .cast("decimal(38,0)").alias("sxx"))
    from pyspark.sql.window import Window as W

    dev = daily.crossJoin(F.broadcast(s)).withColumn(
        "md", F.abs(dec(F.col("n")) * dec(F.col("c")) - F.col("sx")))
    dev = dev.withColumn(
        "rn", F.row_number().over(W.orderBy(F.desc("md"), F.col("d"))))
    nD = F.col("n").cast("double")
    g = ((F.col("md").cast("double") / nD)
         / F.sqrt((nD * F.col("sxx").cast("double")
                   - F.col("sx").cast("double")
                   * F.col("sx").cast("double"))
                  / (nD * (F.col("n") - 1))))
    return (
        dev.filter((F.col("rn") == 1) & (F.col("n") >= 3)
                   & (dec(F.col("n")) * F.col("sxx")
                      - F.col("sx") * F.col("sx") > 0))
        .select(F.col("d").alias("outlier_day"),
                F.col("c").alias("outlier_cents"),
                F.col("n").alias("n_days"),
                F.round(g, 6).alias("g_stat"))
    )
