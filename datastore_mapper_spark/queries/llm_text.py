"""LLM-pipeline text contract queries (SURVEY §2.B #47, #48, #50, #51)
— the north-star training-data operators over ``documents``.

The scalable variants (MinHash+LSH, SimHash banding) live in
``operators/dedup.py``; the queries here are the exact formulations
that a DuckDB oracle can replay.
"""

from __future__ import annotations

import hashlib
import os
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.dedup import connected_components, connected_components_star
from ..registry import REGISTRY, query

#: corpus-snapshot tag -> read-back frame of the written edge table.
_near_dup_edge_cache: dict[str, DataFrame] = {}

_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "_scratch",
)


def _corpus_snapshot_tag(sf_dir: str) -> str:
    """Content-address a corpus snapshot: abspath + documents.parquet
    (size, mtime_ns) + the df-cap parameter.  Any rewrite of the
    fixture file or change of the candidate-generation cap changes the
    tag; same snapshot -> same tag across sessions AND processes."""
    doc = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(doc)
        fp = f"{st.st_size}:{st.st_mtime_ns}"
    except OSError:
        fp = "missing"
    # v2: snapshot schema gained the jaccard column (round 8) — the
    # version component invalidates pre-upgrade 2-column tables
    raw = f"{os.path.abspath(sf_dir)}|{fp}|df{NEAR_DUP_DF_CAP}|v2"
    return hashlib.sha1(raw.encode()).hexdigest()[:12]


#: The derived near-dup snapshot families under ``_scratch``, each
#: named by :func:`_snapshot_dirname` and reaped by :func:`clean_scratch`.
_SNAPSHOT_FAMILIES = ("edges", "doccensus", "cclabels", "tricredits",
                      "kcore2twin")


def _snapshot_dirname(family: str, sf_dir: str, *parts: str) -> str:
    """``near_dup_<family>_<corpus>_df<cap>[_<part>...]_<tag>``.

    The (family, corpus, cap, parts) prefix is readable so
    :func:`clean_scratch`, which groups generations by everything
    before the trailing content tag, reaps EXACTLY the snapshots a
    build supersedes: a twin built for another corpus, or a
    same-corpus snapshot under a DIFFERENT cap (e.g. a test
    monkeypatching the cap to 0), must never delete, or be deleted by,
    the table a live session may be reading (caught as a real
    mid-suite FILE_NOT_EXIST race, round 8)."""
    assert family in _SNAPSHOT_FAMILIES, family
    sf_name = os.path.basename(os.path.abspath(sf_dir))
    return "_".join(("near_dup", family, sf_name, f"df{NEAR_DUP_DF_CAP}",
                     *parts, _corpus_snapshot_tag(sf_dir)))


def _read_or_build_snapshot(spark, dirname: str, build) -> DataFrame:
    """Read the content-addressed snapshot ``_scratch/<dirname>``,
    building it atomically on a miss.

    Round-8 ADVICE: the old build path wrote straight to the final dir
    and rmtree'd superseded siblings inline, so (a) two processes
    missing ``_SUCCESS`` could interleave writes on the same dir and
    (b) the cleanup could delete a snapshot a long-lived session was
    still lazily reading.  Now the build goes to a pid-suffixed temp
    dir followed by one atomic ``os.rename`` — concurrent builders
    race harmlessly (the loser keeps the winner's table and drops its
    own temp) — and NOTHING is deleted on the query path; superseded
    dirs are reaped only by the explicit maintenance entry point
    (:func:`clean_scratch` / ``scripts/clean_scratch.py``), which
    applies an age grace period."""
    import shutil

    path = os.path.join(_SCRATCH, dirname)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        os.makedirs(_SCRATCH, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        build().write.mode("overwrite").parquet(tmp)
        # Round-9 ADVICE: re-check AFTER the build.  A concurrent
        # builder may have installed a COMPLETED (_SUCCESS-bearing)
        # snapshot while ours was running; rmtree'ing it here would
        # yank part files out from under any session that already
        # resolved a read plan against it.  Only a _SUCCESS-less final
        # dir (crash garbage from the pre-atomic layout) is removable.
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            shutil.rmtree(tmp, ignore_errors=True)
            return spark.read.parquet(path)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        try:
            os.rename(tmp, path)
        except OSError:
            # a concurrent builder completed the same tag first —
            # keep the winner's table, drop ours
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


#: Grace period before clean_scratch removes a superseded snapshot —
#: long enough that a session which resolved its read plan just before
#: a fixture rewrite has finished any lazy scan of the old table.
_SCRATCH_GRACE_SECONDS = 6 * 3600


def clean_scratch(grace_seconds: int = _SCRATCH_GRACE_SECONDS) -> list[str]:
    """Explicit scratch maintenance (never runs on a query path):
    remove snapshot temp dirs and superseded ``near_dup_*`` snapshot
    generations older than ``grace_seconds``.  The NEWEST generation
    of each (family, corpus, params) prefix is always kept regardless
    of age.  Returns the removed dir names."""
    import shutil
    import time

    if not os.path.isdir(_SCRATCH):
        return []
    now = time.time()
    removed: list[str] = []
    groups: dict[str, list[tuple[float, str]]] = {}
    for d in os.listdir(_SCRATCH):
        full = os.path.join(_SCRATCH, d)
        if not os.path.isdir(full):
            continue
        try:
            mtime = os.stat(full).st_mtime
        except OSError:
            continue
        if ".tmp-" in d:
            if now - mtime > grace_seconds:
                shutil.rmtree(full, ignore_errors=True)
                removed.append(d)
            continue
        # per-pid sink scratch (sinks_queries._scratch_dir): reap once
        # the owning process is gone and the grace period has passed
        m = re.search(r"_p(\d+)$", d)
        if m:
            if not os.path.exists(f"/proc/{m.group(1)}") and (
                now - mtime > grace_seconds
            ):
                shutil.rmtree(full, ignore_errors=True)
                removed.append(d)
            continue
        # uuid-tagged per-run streaming scratch (checkpoints, memory
        # partials): dead the moment their query's stream stops, but
        # nothing ever deleted them — 498 dirs had piled up by round 9.
        # Age-based reaping is safe: no cross-run reuse by design
        # (fresh uuid per run).
        if re.match(
            r"(ckpt_|stream_partials_|stream_foreach_batch_out|"
            r"stream_rollup_state)", d
        ) and now - mtime > grace_seconds:
            shutil.rmtree(full, ignore_errors=True)
            removed.append(d)
            continue
        if d.startswith(tuple(f"near_dup_{f}_" for f in _SNAPSHOT_FAMILIES)):
            # group by everything before the trailing content tag; the
            # tag is the last _-separated component
            prefix = d.rsplit("_", 1)[0]
            groups.setdefault(prefix, []).append((mtime, d))
    for prefix, gens in groups.items():
        gens.sort(reverse=True)
        for mtime, d in gens[1:]:  # keep the newest generation
            if now - mtime > grace_seconds:
                shutil.rmtree(os.path.join(_SCRATCH, d), ignore_errors=True)
                removed.append(d)
    return removed


def near_dup_edges(spark, sf_dir) -> DataFrame:
    """The near-dup pair graph (``dedup_near_jaccard``'s edges),
    materialized ONCE per corpus snapshot and shared by every
    downstream graph/dedup query (cluster assignment, canonical-doc
    selection, triangles, clustering coefficient, PageRank).

    The pair join is the dominant cost of the whole family (~80 s at
    sf0.1's duplicate-heavy fixture); before this cache each of the
    seven consumers re-derived it independently.  The edges are
    WRITTEN AS A PARQUET TABLE once per corpus snapshot and read back
    — exactly the 100 TB design ("materialize the pair graph next to
    the corpus, every downstream job scans it"), and deliberately NOT
    ``localCheckpoint``: block-manager storage is session-fragile
    (anything that unpersists RDDs — storage pressure, an isolation
    sweep, executor loss — leaves a truncated-lineage frame that
    CRASHES instead of recomputing; observed live in the round-7
    sf0.1 sweep).  Files have no such failure mode, and the parquet
    scan also cuts the lineage the iterative consumers (CC, PageRank)
    need cut.

    Cache key = CONTENT ADDRESS (round-7 VERDICT task 5): the tag
    derives from (corpus dir, documents.parquet size+mtime, df-cap),
    not the Spark applicationId, so a fresh session — including every
    isolated per-query session of the timing sweep — REUSES the edge
    table a previous session wrote instead of re-paying the pair join.
    That mirrors the real contract: one materialization per corpus
    snapshot, ever.  A completed write is detected by parquet's
    ``_SUCCESS`` marker; stale ``near_dup_edges_*`` dirs with other
    tags are removed on write (round-7 ADVICE — the scratch dir
    otherwise accumulates one copy per rewritten fixture)."""
    return near_dup_edges_scored(spark, sf_dir).select("d1", "d2")


def near_dup_edges_scored(spark, sf_dir) -> DataFrame:
    """The full (d1, d2, jaccard) snapshot behind :func:`near_dup_edges`
    — build-once-per-corpus-snapshot, read-many (docstring above).
    ``dedup_near_jaccard`` (the contract row) is the producer-or-reader
    of this table: on a cache miss it pays the pair join ONCE and
    writes; every later call — any session, any consumer — is a
    parquet scan.  The jaccard doubles round-trip parquet bit-exactly,
    so the oracle comparison is unchanged."""
    dirname = _snapshot_dirname("edges", sf_dir)
    if dirname not in _near_dup_edge_cache:
        _near_dup_edge_cache[dirname] = _read_or_build_snapshot(
            spark, dirname, lambda: _build_near_dup_pairs(spark, sf_dir)
        )
    return _near_dup_edge_cache[dirname]


def near_dup_doc_census(spark, sf_dir) -> DataFrame:
    """The exact near-dup DOC census ``(doc, lang)`` — every document
    with at least one exact Jaccard>=0.8 partner, with its language —
    the THIRD derived artifact materialized once per corpus snapshot
    (after the edge list and the triangle credits).

    Both sketch-verify dedup rows (``dedup_minhash_lsh``,
    ``dedup_simhash``) grade their sketches against this census; before
    this snapshot each run re-derived it from the edge table (two
    branch reads + a distinct + a documents join), which DOUBLED the
    minhash row's sweep cost when it was promoted to oracle-checked in
    round 11 (r11 VERDICT task 3).  Now the verify pass is a parquet
    scan; only the sketch itself — the graded object — recomputes."""
    dirname = _snapshot_dirname("doccensus", sf_dir)
    if dirname not in _near_dup_edge_cache:
        _near_dup_edge_cache[dirname] = _read_or_build_snapshot(
            spark, dirname, lambda: _build_doc_census(spark, sf_dir)
        )
    return _near_dup_edge_cache[dirname]


def _build_doc_census(spark, sf_dir) -> DataFrame:
    exact = near_dup_edges_scored(spark, sf_dir)
    docs = (
        exact.select(F.col("d1").alias("doc"))
        .union(exact.select(F.col("d2").alias("doc")))
        .distinct()
    )
    d = table(spark, sf_dir, "documents")
    return docs.join(
        d.select(F.col("doc_id").alias("doc"), "lang"), "doc"
    )


def near_dup_cluster_labels(spark, sf_dir) -> DataFrame:
    """Duplicate-cluster labels ``(node, cluster_id)`` over the
    near-dup graph — the FOURTH content-addressed derived artifact
    (after edges, triangle credits, doc census): min-label connected
    components is an ITERATIVE O(diameter)-round job, and five
    consumers (canonical selection, keep-best, the corpus recipe,
    PageRank's invariant grading) were each re-running it per
    execution — 27 s of the promoted pagerank row's sf0.1 time was
    this recompute.  One materialization per corpus snapshot; the
    labels stay end-to-end verified because ``dedup_cluster_assign``
    / ``dedup_cluster_assign_star`` still run the ALGORITHMS live
    against the recursive-CTE oracle, and every consumer's own oracle
    replays the clustering from raw text."""
    dirname = _snapshot_dirname("cclabels", sf_dir)
    if dirname not in _near_dup_edge_cache:
        _near_dup_edge_cache[dirname] = _read_or_build_snapshot(
            spark, dirname,
            lambda: connected_components(near_dup_edges(spark, sf_dir)),
        )
    return _near_dup_edge_cache[dirname]


#: Output bound of graph_clustering_coefficient — baked into the
#: triangle-credit artifact (third-vertex credits kept only below it).
TRI_CREDIT_LIM = 100


def near_dup_triangle_credits(spark, sf_dir) -> DataFrame:
    """Per-ORIENTED-EDGE triangle credits over the near-dup graph —
    (src, dst, tri, ws_small) where ``tri`` = |N+(src) ∩ N+(dst)| (the
    triangles counted at this edge under low-degree→high-degree
    orientation) and ``ws_small`` = the third vertices below
    TRI_CREDIT_LIM (the only ones any consumer outputs).

    This is the SECOND derived graph artifact materialized once per
    corpus snapshot (the first is the edge list itself): the
    m^{3/2}-cost wedge intersection — the dominant term of BOTH
    triangle counting and clustering coefficients, and the flakiest
    wall-clock in two rounds of sweeps — runs once per snapshot ever;
    `graph_triangle_count` and `graph_clustering_coefficient` are
    then scans + tiny aggregates.  Content-addressed exactly like
    ``near_dup_edges_scored``; the oracles still verify the final
    values end-to-end, so a wrong artifact cannot hide."""
    dirname = _snapshot_dirname("tricredits", sf_dir, f"lim{TRI_CREDIT_LIM}")
    if dirname not in _near_dup_edge_cache:
        _near_dup_edge_cache[dirname] = _read_or_build_snapshot(
            spark, dirname, lambda: _build_triangle_credits(spark, sf_dir)
        )
    return _near_dup_edge_cache[dirname]


def _build_triangle_credits(spark, sf_dir) -> DataFrame:
    """The one-time wedge-intersection pass (Schank/Wagner low-degree
    orientation; see graph_triangle_count's docstring for the scale
    argument)."""
    edges = near_dup_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("d1").alias("n"))
        .union(edges.select(F.col("d2").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    keyed = (
        edges.join(deg.withColumnRenamed("n", "d1"), "d1")
        .withColumnRenamed("deg", "deg1")
        .join(deg.withColumnRenamed("n", "d2"), "d2")
        .withColumnRenamed("deg", "deg2")
    )
    k1 = F.struct(F.col("deg1").alias("d"), F.col("d1").alias("i"))
    k2 = F.struct(F.col("deg2").alias("d"), F.col("d2").alias("i"))
    oriented = keyed.select(
        F.when(k1 < k2, F.col("d1")).otherwise(F.col("d2")).alias("src"),
        F.when(k1 < k2, F.col("d2")).otherwise(F.col("d1")).alias("dst"),
    ).localCheckpoint()
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    empty = F.array().cast("array<bigint>")
    lim = F.lit(TRI_CREDIT_LIM)
    return (
        oriented.join(
            adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nv")),
            F.col("src") == F.col("v"),
            "left",
        )
        .join(
            adj.select(F.col("src").alias("w"), F.col("nbrs").alias("nw")),
            F.col("dst") == F.col("w"),
            "left",
        )
        .select(
            "src", "dst",
            F.array_intersect(
                F.coalesce(F.col("nv"), empty),
                F.coalesce(F.col("nw"), empty),
            ).alias("ws"),
        )
        .select(
            "src", "dst",
            F.size("ws").cast("long").alias("tri"),
            F.filter(F.col("ws"), lambda w: w < lim).alias("ws_small"),
        )
    )


def _build_near_dup_pairs(spark, sf_dir) -> DataFrame:
    """The actual pair computation (the one-time cost of the snapshot):
    df-capped candidate generation + exact array-intersect verify —
    see ``dedup_near_jaccard``'s docstring for the scale argument."""
    from ..operators.dedup import jaccard_threshold_pairs

    d = table(spark, sf_dir, "documents")
    doc_toks = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    # cost-routed qualifying-pair generation (round-16 VERDICT task 6):
    # on this small-vocabulary corpus the shared-token candidate join
    # degenerates to ~all-pairs (~98 s of the old ~95 s cold build was
    # the Σ df² join + distinct), so the bitset all-pairs kernel scores
    # group pairs with blocked matmuls and only the >= 4/5 survivors
    # expand back to doc pairs; healthy-vocabulary corpora keep the
    # inverted-index join route (route.CAPS decides: jaccard_join_rows,
    # then bitset.kernel_fits' bitset_group_bytes / bitset_flops).  The
    # final jaccard double + filter are unchanged — the kernel's
    # integer threshold is exactly the double filter (rationals with
    # denominator <= |union| sit far outside double rounding), so this
    # re-filter is an idempotent restatement, kept for the contract.
    scored = jaccard_threshold_pairs(doc_toks, NEAR_DUP_DF_CAP, 4, 5)
    jac = F.col("inter").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("inter")
    )
    return (
        scored.select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
    )


@query(
    "dedup_exact",
    "LLM-pipeline",
    oracle="""
    SELECT lang,
           count(*) AS total_docs,
           count(DISTINCT text) AS uniq_docs
    FROM documents
    GROUP BY lang
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup accounting per language (hash-groupBy dedup; the
    remove-flavor is operators.dedup.exact_dedup)."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("total_docs"),
        F.countDistinct("text").alias("uniq_docs"),
    )


#: Document-frequency cap for near-dup candidate generation.  Tokens
#: appearing in more than this many documents (stopwords at corpus
#: scale) are excluded from the candidate self-join, bounding the pair
#: blow-up at Σ_{df<=cap} df² instead of Σ df².  Recall argument: a
#: pair is missed ONLY if every one of its shared tokens has df > cap;
#: for J >= 0.8 the docs share >= 80% of their (near-identical) token
#: sets, so any doc containing one sub-cap token keeps its near-dups.
#: The fixtures' max df is 3923 (sf0.1), below the cap, so the
#: candidate set — and hence the oracle comparison — is EXACT at test
#: scale (asserted in tests/test_operators.py).
NEAR_DUP_DF_CAP = 10_000


@query(
    "dedup_near_jaccard",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        )
    ), sizes AS (
        SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.d1, p.d2,
           CAST(p.inter AS DOUBLE) / (s1.sz + s2.sz - p.inter) AS jaccard
    FROM pairs p
    JOIN sizes s1 ON p.d1 = s1.doc_id
    JOIN sizes s2 ON p.d2 = s2.doc_id
    WHERE CAST(p.inter AS DOUBLE) / (s1.sz + s2.sz - p.inter) >= 0.8
    """,
)
def dedup_near_jaccard(spark, sf_dir):
    """Near-duplicate pairs by token-set Jaccard >= 0.8.

    Two-stage shape that survives 100 TB: (1) candidate generation —
    self-join on shared tokens AFTER dropping tokens with document
    frequency > NEAR_DUP_DF_CAP (the uncapped join explodes as Σ df²
    on stopwords); (2) exact verify — candidates rejoin the FULL token
    sets so the Jaccard score is exact even when the cap binds.  At
    100 TB stage (1) is alternatively MinHash LSH banding
    (operators/dedup.py); stage (2) is identical.

    Round 8: this row is the PRODUCER-OR-READER of the shared
    content-addressed snapshot (``near_dup_edges_scored``): the first
    call per corpus snapshot pays the pair join once and writes the
    parquet table; every later call — same or different session — is
    a parquet scan.  That is the deploy contract ("one
    materialization per corpus snapshot, ever"), and the build cost
    stays visible in the sweep's first-run spread."""
    return near_dup_edges_scored(spark, sf_dir)


@query(
    "text_stats_by_lang",
    "LLM-pipeline",
    oracle="""
    SELECT lang, source,
           count(*) AS n_docs,
           avg(CAST(len(string_split(text, ' ')) AS INT)) AS avg_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           avg(n_chars) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats_by_lang(spark, sf_dir):
    """Corpus statistics: tokens/doc and chars/doc per language x source."""
    d = table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.avg(F.size(F.split("text", " "))).alias("avg_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.avg("n_chars").alias("avg_chars"),
    )


@query(
    "top_terms_per_lang",
    "LLM-pipeline",
    oracle="""
    SELECT lang, term, cnt, rnk FROM (
        SELECT lang, term, cnt,
               CAST(rank() OVER (PARTITION BY lang
                                 ORDER BY cnt DESC, term) AS INT) AS rnk
        FROM (
            SELECT lang, tok AS term, count(*) AS cnt
            FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS tok
                FROM documents
            )
            GROUP BY lang, tok
        )
    ) WHERE rnk <= 5
    """,
)
def top_terms_per_lang(spark, sf_dir):
    """Top-5 terms per language: explode -> count -> windowed rank."""
    d = table(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("term"))
    return (
        counts.select(
            "lang", "term", "cnt", F.rank().over(w).cast("int").alias("rnk")
        ).filter(F.col("rnk") <= 5)
    )


@query(
    "dedup_cluster_assign",
    "LLM-pipeline",
    oracle="""
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
    )
    SELECT node AS doc_id, min(lab) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_cluster_assign(spark, sf_dir):
    """Duplicate clusters: connected components (iterative min-label
    propagation, operators.dedup.connected_components) over the exact
    near-dup pair graph of #48.  cluster_id = min doc_id of the
    component; the oracle closes the same graph with a recursive CTE.
    This is the step that turns pairwise near-dup hits into the
    keep-one-per-cluster decision a 100 TB dedup pipeline ships."""
    pairs = near_dup_edges(spark, sf_dir)
    cc = connected_components(pairs)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@query(
    "dedup_keep_canonical",
    "LLM-pipeline",
    oracle="""
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
    )
    SELECT d.doc_id, d.lang
    FROM documents d LEFT JOIN clusters c ON d.doc_id = c.node
    WHERE c.node IS NULL OR d.doc_id = c.cluster_id
    """,
)
def dedup_keep_canonical(spark, sf_dir):
    """The dedup decision a 100 TB pipeline actually SHIPS: one
    canonical document per near-dup cluster (the cluster's min doc_id),
    all singletons kept untouched.  Composes #48's exact pair
    generation -> connected components -> anti-join of the non-canonical
    members — the final anti-join is the only new shuffle, on the
    16-byte doc key.  The oracle closes the same graph with a
    recursive CTE and applies the same keep rule."""
    d = table(spark, sf_dir, "documents")
    cc = near_dup_cluster_labels(spark, sf_dir)
    non_canonical = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    return d.join(non_canonical, "doc_id", "left_anti").select("doc_id", "lang")


@query(
    "dedup_cluster_assign_star",
    "LLM-pipeline",
    oracle="""
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
    )
    SELECT node AS doc_id, min(lab) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_cluster_assign_star(spark, sf_dir):
    """Duplicate clusters via alternating large-star/small-star
    (operators.dedup.connected_components_star) — the O(log^2 n)-round
    algorithm for HIGH-DIAMETER graphs, checked against the identical
    recursive-CTE oracle as the min-label formulation, so the driver
    proves both algorithms produce the same clustering."""
    pairs = near_dup_edges(spark, sf_dir)
    cc = connected_components_star(pairs)
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@query(
    "doc_pagerank_centrality",
    "LLM-pipeline",
    oracle="""
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
    )
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
           TRUE AS mass_ok, TRUE AS cluster_mass_ok
    FROM clusters GROUP BY cluster_id
    ORDER BY n_docs DESC, cluster_id
    LIMIT 20
    """,
)
def doc_pagerank_centrality(spark, sf_dir):
    """PageRank centrality over the (symmetrized) near-dup pair graph
    (operators/graph.pagerank) — PROMOTED round 12 from rows-only to
    oracle-checked invariant-verify (r11 VERDICT task 7, the
    recall-verified pattern): the hashed rows are the EXACT top-20
    duplicate clusters by size (recursive-CTE oracle), and the
    iterative fixpoint's PHYSICS ride two graded booleans.
    ``mass_ok`` = total rank sums to 1 (dangling mass redistributed);
    ``cluster_mass_ok`` = every connected component's rank mass equals
    |C|/N to 1e-9 — an EXACT theorem for damped PageRank on a
    symmetrized graph (teleport spreads uniformly, walks never cross
    components, so component mass is invariant at every iteration;
    measured deviation <=2e-15 at all three SFs).  Top-k rank
    IDENTITY is deliberately not graded: within a duplicate clique
    ranks tie to ~1e-12, so the top-20 set is ill-conditioned
    (measured 15-vs-25-iteration overlap 0.2 at sf0.1) — the
    invariant is the well-posed quantity.  Within a cluster the
    highest-rank document is the principled KEEP choice (hub, not
    min-id)."""
    from ..operators.graph import pagerank

    # symmetrize=True: the operator mirrors the undirected pair list
    # in-kernel, so the snapshot parquet is scanned ONCE (the old
    # plan-level union(swap) read it twice through the funneled task
    # and paid a second scan in the routing count — r12 VERDICT #6)
    pairs = near_dup_edges(spark, sf_dir)
    pr = pagerank(pairs, src="d1", dst="d2", max_iterations=15,
                  symmetrize=True)
    cc = near_dup_cluster_labels(spark, sf_dir)
    n = cc.count()
    stats = (
        pr.join(cc, "node")
        .groupBy("cluster_id")
        .agg(F.sum("rank").alias("m"), F.count("*").alias("c"))
        .agg(
            F.abs(F.sum("m") - 1.0).alias("total_dev"),
            F.max(F.abs(F.col("m") - F.col("c") / F.lit(float(max(n, 1)))))
            .alias("cluster_dev"),
        )
        .select(
            (F.col("total_dev") <= 1e-6).alias("mass_ok"),
            (F.col("cluster_dev") <= 1e-9).alias("cluster_mass_ok"),
        )
    )
    return (
        cc.groupBy("cluster_id")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), "cluster_id")
        .limit(20)
        .crossJoin(F.broadcast(stats))
    )


@query(
    "graph_triangle_count",
    "LLM-pipeline/graph",
    oracle="""
    WITH toks AS (
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
    )
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM edges e1
    JOIN edges e2 ON e1.d2 = e2.d1
    JOIN edges e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2
    """,
)
def graph_triangle_count(spark, sf_dir):
    """Triangle count over the near-dup graph — the clustering-
    coefficient numerator that distinguishes tight duplicate cliques
    from chains (a cluster of genuine dups is triangle-dense; a chain
    of borderline pairs is triangle-free).

    Scale shape (round-5 fix; the naive id-ordered wedge join OOM'd the
    local[32] JVM at sf0.1):

    - the expensive upstream (the near-dup pair join, ~80 s at sf0.1)
      is checkpointed ONCE instead of re-executing for each of the
      three join legs;
    - edges are oriented low-degree → high-degree (Schank/Wagner,
      Suri/Vassilvitskii — the standard MapReduce triangle technique,
      public knowledge): every node's out-degree is O(sqrt(m)), so the
      wedge fan-out is bounded by Σ C(out_deg, 2) ≤ O(m^{3/2}) instead
      of a hub's full deg²;
    - each triangle has exactly ONE node whose two oriented out-edges
      reach the other two, and is counted at its lowest-ordered node
      as Σ over oriented edges (v,w) of |N+(v) ∩ N+(w)| — the
      edge-iterator identity.  The intersection runs INSIDE a
      projection over per-node out-neighbor arrays (each bounded to
      O(sqrt m) elements by the orientation), so the quadratic wedge
      set is never materialized as rows: the duplicate-heavy fixture's
      cliques OOM'd the wedge-join formulation at sf0.1, while this
      form streams m array-intersection rows.

    Round 8: the intersection pass itself is the content-addressed
    ``near_dup_triangle_credits`` snapshot (one run per corpus
    snapshot, ever — the second derived graph artifact after the edge
    list); this query is then a scan + one global sum.
    """
    per_edge = near_dup_triangle_credits(spark, sf_dir)
    # empty edge set: sum over no rows is NULL but the oracle's
    # count-shaped expression yields 0 -- pin the 0.
    return per_edge.agg(
        F.coalesce(F.sum("tri").cast("long"), F.lit(0).cast("long")).alias(
            "n_triangles"
        )
    )


@query(
    "graph_clustering_coefficient",
    "LLM-pipeline/graph",
    oracle="""
    WITH toks AS (
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
    ), tri AS (
        SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
        FROM edges e1
        JOIN edges e2 ON e1.d2 = e2.d1
        JOIN edges e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2
    ), tri_per_node AS (
        SELECT node, count(*) AS n_tri FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    ), degree AS (
        SELECT node, count(*) AS deg FROM (
            SELECT d1 AS node FROM edges
            UNION ALL SELECT d2 FROM edges
        ) GROUP BY node
    )
    SELECT d.node AS doc_id,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_triangles,
           round(CASE WHEN d.deg < 2 THEN 0.0
                      ELSE 2.0 * coalesce(t.n_tri, 0)
                           / (d.deg * (d.deg - 1)) END, 6) AS clustering
    FROM degree d LEFT JOIN tri_per_node t ON d.node = t.node
    WHERE d.node < 100
    """,
)
def graph_clustering_coefficient(spark, sf_dir):
    """Per-node local clustering coefficient over the near-dup graph —
    2*triangles(v) / (deg(v)*(deg(v)-1)) — the graph-quality signal
    that separates docs inside tight duplicate cliques (coefficient
    ~1) from bridge docs linking unrelated clusters (~0), which is how
    a dedup pipeline decides what is safe to collapse.

    Same scale machinery as ``graph_triangle_count``: the per-edge
    wedge intersections come from the content-addressed
    ``near_dup_triangle_credits`` snapshot (one intersection pass per
    corpus snapshot, ever) — each triangle (src, dst, w) credits all
    three corners, but only nodes < TRI_CREDIT_LIM reach the output,
    so the <100 restriction was pushed INTO the artifact's credit
    generation (the unrestricted form exploded every corner —
    3 x 1.9 B rows at sf0.1 — through a union+groupBy before
    filtering; the artifact keeps per-edge counts plus only the
    qualifying third vertices).  Output bounded to doc_id < 100 to
    keep the oracle's triple join cheap."""
    edges = near_dup_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("d1").alias("n"))
        .union(edges.select(F.col("d2").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    lim = F.lit(TRI_CREDIT_LIM)
    credit = lambda n: F.struct(  # noqa: E731
        n.alias("node"), F.col("tri").alias("tri")
    )
    no_credit = F.array().cast("array<struct<node:bigint,tri:bigint>>")
    per_edge = near_dup_triangle_credits(spark, sf_dir)
    credits = F.concat(
        F.when(F.col("src") < lim, F.array(credit(F.col("src"))))
        .otherwise(no_credit),
        F.when(F.col("dst") < lim, F.array(credit(F.col("dst"))))
        .otherwise(no_credit),
        F.transform(
            F.col("ws_small"),
            lambda w: F.struct(
                w.alias("node"), F.lit(1).cast("long").alias("tri")
            ),
        ),
    )
    tri_per_node = (
        per_edge.select(F.explode(credits).alias("c"))
        .select("c.node", "c.tri")
        .groupBy("node")
        .agg(F.sum("tri").alias("n_tri"))
    )
    d = F.col("deg").cast("double")
    return (
        deg.withColumnRenamed("n", "node")
        .join(tri_per_node, "node", "left")
        .filter(F.col("node") < 100)
        .select(
            F.col("node").alias("doc_id"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint")
            .alias("n_triangles"),
            F.round(
                F.when(F.col("deg") < 2, F.lit(0.0)).otherwise(
                    2.0 * F.coalesce(F.col("n_tri"), F.lit(0)) / (d * (d - 1))
                ),
                6,
            ).alias("clustering"),
        )
    )


@query(
    "dedup_keep_best_quality",
    "LLM-pipeline",
    oracle="""
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
    ), qual AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), ranked AS (
        SELECT q.doc_id, q.lang, q.n_tokens,
               row_number() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY q.n_tokens DESC, q.doc_id
               ) AS rn
        FROM qual q JOIN clusters c ON q.doc_id = c.node
    )
    SELECT doc_id, lang, n_tokens FROM ranked WHERE rn = 1
    UNION ALL
    SELECT q.doc_id, q.lang, q.n_tokens
    FROM qual q LEFT JOIN clusters c ON q.doc_id = c.node
    WHERE c.node IS NULL
    """,
)
def dedup_keep_best_quality(spark, sf_dir):
    """Quality-priority canonical selection: like
    ``dedup_keep_canonical``, but each near-dup cluster keeps its
    HIGHEST-quality member (here: raw token count as the quality proxy;
    ties broken on min doc_id) instead of the min-id member — the rule
    real training pipelines ship when near-dups differ in truncation
    or boilerplate.  Same pair generation -> connected components; the
    selection is one window over cluster members (bounded by cluster
    size), singletons pass through untouched."""
    d = table(spark, sf_dir, "documents")
    qual = d.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    cc = near_dup_cluster_labels(spark, sf_dir)
    members = qual.join(
        cc.select(F.col("node").alias("doc_id"), "cluster_id"), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tokens"), F.asc("doc_id")
    )
    best = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "lang", "n_tokens")
    )
    singletons = qual.join(
        cc.select(F.col("node").alias("doc_id")), "doc_id", "left_anti"
    )
    return best.unionByName(singletons)


@query(
    "ngram_span_dup_coverage",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
        SELECT doc_id, array_to_string(t[i:i+4], ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
        WHERE len(t) >= 5
    ), freq AS (
        SELECT g, count(DISTINCT doc_id) AS df FROM sh GROUP BY g
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_spans,
           round(CAST(sum(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS dup_frac
    FROM sh s JOIN freq f USING (g)
    GROUP BY s.doc_id
    """,
)
def ngram_span_dup_coverage(spark, sf_dir):
    """Duplicated-span coverage per document — the detection signal of
    exact SUBSTRING dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): every positional 5-gram is a span;
    a span is duplicated if it occurs in more than one document.
    Reports per-doc span counts and the duplicated fraction — the score
    a pipeline thresholds to route documents to span-removal.

    Plan shape: positional shingles via JVM ``transform(sequence(...))``
    over the token array (no Python), one groupBy for corpus-wide span
    frequencies, one join back, one per-doc aggregate.  At 100 TB the
    grams would carry as 8-byte xxhash64 keys instead of strings (the
    string form is kept here so the DuckDB oracle can reproduce it
    exactly); frequency skew on boilerplate spans is bounded by the
    same df-cap idea as `dedup_near_jaccard`."""
    d = table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    base = d.select("doc_id", t.alias("t")).filter(F.size("t") >= 5)
    grams = F.transform(
        F.sequence(F.lit(1), F.size("t") - 4),
        lambda i: F.array_join(F.slice("t", i, 5), " "),
    )
    sh = base.select("doc_id", F.explode(grams).alias("g"))
    freq = sh.groupBy("g").agg(F.countDistinct("doc_id").alias("df"))
    dup = F.sum(F.when(F.col("df") > 1, 1).otherwise(0)).cast("long")
    return (
        sh.join(freq, "g")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            dup.alias("dup_spans"),
            F.round(
                dup.cast("double") / F.count("*"), 4
            ).alias("dup_frac"),
        )
    )


@query(
    "dedup_remove_duplicate_spans",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), tok AS (
        SELECT doc_id, u.i AS p, t[u.i] AS tok
        FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
    ), sh AS (
        SELECT doc_id, u.i AS i, array_to_string(t[u.i:u.i+4], ' ') AS g
        FROM toks, UNNEST(generate_series(1, len(t) - 4)) AS u(i)
        WHERE len(t) >= 5
    ), occ AS (
        SELECT doc_id, i,
               row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
        FROM sh
    ), del AS (
        SELECT DISTINCT o.doc_id, o.i + d.x AS p
        FROM occ o, UNNEST(generate_series(0, 4)) AS d(x)
        WHERE o.rn > 1
    ), kept AS (
        SELECT tk.doc_id, tk.p, tk.tok
        FROM tok tk
        LEFT JOIN del ON tk.doc_id = del.doc_id AND tk.p = del.p
        WHERE del.p IS NULL
    )
    SELECT d.doc_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT)
               AS n_tokens_before,
           CAST(count(k.p) AS BIGINT) AS n_tokens_after,
           coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '')
               AS text_clean
    FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
    GROUP BY d.doc_id, d.text
    """,
)
def dedup_remove_duplicate_spans(spark, sf_dir):
    """Exact-substring dedup REMOVAL (round-13 VERDICT task 6 — the
    ship step after :func:`ngram_span_dup_coverage`'s detection, Lee
    et al.'s suffix-array pass restated relationally): the corpus is
    REWRITTEN with every duplicated >=5-token span removed except its
    FIRST occurrence in (doc_id, position) order.  Every positional
    5-gram occurrence is ranked within its gram by (doc_id, i); a
    rank->1 occurrence marks its 5 token positions for deletion; the
    rewritten text is the surviving tokens rejoined in order — so a
    span repeated across documents survives exactly once (in the
    lowest-keyed document), intra-document repeats collapse to the
    first position, and overlapping duplicated spans union their
    deleted ranges.  Output carries before/after token counts and
    the full rewritten text, hash-compared against DuckDB restating
    the same removal.

    Plan shape, all JVM built-ins: positional shingles via
    ``posexplode(transform(sequence(...)))``, ONE window rank
    partitioned by gram (the corpus-wide "who is first" decision),
    one explode of deleted ranges, one anti-join against the token
    table, one order-preserving re-agg
    (``array_join(transform(array_sort(collect_list(struct(p,tok)))))``).
    At 100 TB: grams carry as xxhash64 keys (strings kept here for
    oracle parity), the gram window is a shuffle on the gram key with
    boilerplate skew handled by the same df-cap/salting levers as the
    near-dup family, and the token anti-join co-partitions on doc_id
    — no all-pairs stage anywhere."""
    from ..operators.dedup import remove_duplicate_spans

    d = table(spark, sf_dir, "documents")
    return remove_duplicate_spans(d, n=5)


@query(
    "dedup_incremental_ingest",
    "LLM-pipeline",
    oracle="""
    WITH batch AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 = 7
    ), corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 7
    ), toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        )
    ), sizes AS (
        SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), nd AS (
        SELECT p.d1, p.d2
        FROM pairs p
        JOIN sizes s1 ON p.d1 = s1.doc_id
        JOIN sizes s2 ON p.d2 = s2.doc_id
        WHERE CAST(p.inter AS DOUBLE) / (s1.sz + s2.sz - p.inter) >= 0.8
    ), exact_hit AS (
        SELECT DISTINCT b.doc_id FROM batch b
        JOIN corpus c ON b.text = c.text
    ), near_hit AS (
        SELECT nd.d1 AS doc_id FROM nd
        JOIN batch b ON nd.d1 = b.doc_id
        JOIN corpus c ON nd.d2 = c.doc_id
        UNION
        SELECT nd.d2 FROM nd
        JOIN batch b ON nd.d2 = b.doc_id
        JOIN corpus c ON nd.d1 = c.doc_id
    )
    SELECT b.lang,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS decision,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(b.doc_id) AS BIGINT) AS example_doc
    FROM batch b
    LEFT JOIN exact_hit e ON b.doc_id = e.doc_id
    LEFT JOIN near_hit n ON b.doc_id = n.doc_id
    GROUP BY 1, 2
    """,
)
def dedup_incremental_ingest(spark, sf_dir):
    """Incremental-ingest dedup — the decision a DAILY pipeline makes:
    an incoming batch (``doc_id % 10 = 7`` stands in for today's
    crawl) is triaged against the existing corpus into ``exact_dup``
    (byte-identical text already present), ``near_dup`` (Jaccard >=
    0.8 edge to a corpus doc), or ``new``, per language.  This is the
    ship-shape of dedup at 100 TB: the quadratic pair graph is built
    ONCE per corpus snapshot (the shared, content-addressed
    ``near_dup_edges`` parquet table) and each day's batch only
    anti-joins/semi-joins against it — batch-sized work, not
    corpus-sized.

    Exact hits match on a 256-bit content digest (16-byte shuffle
    keys, never full text; the oracle matches raw text — identical
    semantics, digest collisions being cryptographically absent);
    near hits are batch-corpus edges of the shared pair graph.
    Priority exact > near > new makes the three classes disjoint."""
    d = table(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % 10 == 7
    batch = d.filter(is_batch).select(
        "doc_id", "lang", F.sha2("text", 256).alias("digest")
    )
    corpus_digests = (
        d.filter(~is_batch).select(F.sha2("text", 256).alias("digest")).distinct()
    )
    exact = (
        batch.join(corpus_digests, "digest", "left_semi")
        .select("doc_id").withColumn("is_exact", F.lit(True))
    )
    edges = near_dup_edges(spark, sf_dir)
    batch_ids = d.filter(is_batch).select("doc_id")
    corpus_ids = d.filter(~is_batch).select(F.col("doc_id").alias("cid"))
    near = (
        edges.join(batch_ids, edges.d1 == batch_ids.doc_id)
        .join(corpus_ids, edges.d2 == F.col("cid"), "left_semi")
        .select("doc_id")
        .unionByName(
            edges.join(batch_ids, edges.d2 == batch_ids.doc_id)
            .join(corpus_ids, edges.d1 == F.col("cid"), "left_semi")
            .select("doc_id")
        )
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    decision = (
        F.when(F.col("is_exact"), "exact_dup")
        .when(F.col("is_near"), "near_dup")
        .otherwise("new")
    )
    return (
        batch.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .groupBy("lang", decision.alias("decision"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("example_doc"),
        )
    )


@query(
    "graph_kcore_membership",
    "LLM-pipeline/graph",
    oracle="""
    WITH toks AS (
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
    )
    SELECT CAST(count(DISTINCT node) AS BIGINT) AS n_graph_nodes,
           CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_graph_edges,
           TRUE AS core_mindeg_ok,
           TRUE AS peel_twin_ok
    FROM (SELECT d1 AS node FROM edges UNION SELECT d2 FROM edges)
    """,
)
def graph_kcore_membership(spark, sf_dir):
    """The near-dup graph's 2-core — the densely-duplicated backbone
    (nodes in cycles/cliques) where transitive dedup decisions
    compound and deserve review — PROMOTED round 13 from rows-only to
    oracle-checked invariant-verify (r12 VERDICT task 8, the PageRank
    promotion pattern): no recursive CTE can express the peel (the
    per-round degree aggregate is not a monotone row union), so the
    hashed row carries the graph's EXACT node/edge census (DuckDB
    restates it from raw text) and the peel's correctness rides two
    graded booleans.

    ``core_mindeg_ok`` — every member's degree restricted to the
    member set, independently recomputed from the full edge list,
    equals the operator's reported in-core degree AND is >= k (the
    defining property; a wrong degree or an under-k member flips it).
    ``peel_twin_ok`` — an ALGORITHM-DIFFERENTIAL twin
    (operators/graph.kcore_single_task: the same simultaneous-removal
    fixpoint as one task of numpy bincount passes, zero shared code
    with the distributed semi-join peel) returns the IDENTICAL
    (node, degree) set.  Min-degree proves membership soundness; twin
    agreement proves maximality (the k-core is unique, and two
    independent peels agreeing on it is the strongest check available
    without a SQL formulation).  The distributed peel reads the
    materialized pair-graph snapshot, never the raw pair join.

    The TWIN's output is itself content-addressed (round-13 VERDICT
    task 3, the census/labels pattern): the single-task numpy peel is
    a pure function of the immutable edge snapshot, so its
    (node, degree) set is built once per corpus tag and replayed from
    ``_scratch/near_dup_kcore2twin_<corpus>_df<cap>_<tag>`` after that
    — the verify cost stops re-paying the O(graph) single-task pass per
    run while the DISTRIBUTED peel under test still executes every
    time."""
    from ..operators.graph import kcore, kcore_single_task

    edges = near_dup_edges(spark, sf_dir)
    core = kcore(edges, k=2).localCheckpoint()
    twin_df = _read_or_build_snapshot(
        spark, _snapshot_dirname("kcore2twin", sf_dir),
        lambda: kcore_single_task(edges, k=2))
    twin = {(r.node, r.degree) for r in twin_df.collect()}
    got = {(r.node, r.degree) for r in core.collect()}
    twin_ok = got == twin
    # independent min-degree recompute: full edge list restricted to
    # the member set, per-node degree compared to the reported one
    members = core.select("node")
    sym = edges.select(F.col("d1").alias("u"), F.col("d2").alias("v")) \
        .union(edges.select(F.col("d2").alias("u"), F.col("d1").alias("v"))) \
        .distinct()
    ind = (
        sym.join(members.withColumnRenamed("node", "u"), "u", "left_semi")
        .join(members.withColumnRenamed("node", "v"), "v", "left_semi")
        .groupBy(F.col("u").alias("node"))
        .agg(F.count("*").alias("ideg"))
    )
    mindeg_ok = (
        core.join(ind, "node", "full_outer")
        .filter(F.col("degree").isNull() | F.col("ideg").isNull()
                | (F.col("degree") != F.col("ideg"))
                | (F.col("ideg") < 2))
        .isEmpty()
    )
    nodes = sym.select(F.col("u").alias("node")).distinct()
    return (
        nodes.agg(F.count("*").alias("n_graph_nodes"))
        .crossJoin(F.broadcast(
            edges.agg(F.count("*").alias("n_graph_edges"))))
        .select(
            "n_graph_nodes", "n_graph_edges",
            F.lit(bool(mindeg_ok)).alias("core_mindeg_ok"),
            F.lit(bool(twin_ok)).alias("peel_twin_ok"),
        )
    )


@query(
    "graph_degree_distribution",
    "LLM-pipeline/graph",
    oracle="""
    WITH toks AS (
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
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM (SELECT d1 AS node FROM edges
              UNION ALL SELECT d2 FROM edges)
        GROUP BY node
    )
    SELECT CAST(floor(log2(degree)) AS BIGINT) AS degree_bucket,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(degree) AS BIGINT) AS min_degree,
           CAST(max(degree) AS BIGINT) AS max_degree
    FROM deg GROUP BY 1
    """,
)
def graph_degree_distribution(spark, sf_dir):
    """Degree distribution of the near-dup graph in log2 buckets — the
    first diagnostic run on any pair graph (a heavy tail here predicts
    hot CC labels, wedge explosion in the triangle pass, and the
    boilerplate mega-clusters the LSH hot-bucket star guards
    against).  Degrees are exact integers off the materialized edge
    snapshot; log2 bucketing is exact for integer powers on both
    engines (floor(log2(2^k)) == k — values verified by the
    hash-match itself).  At 100 TB: one groupBy on node, one 10-row
    rollup."""
    pairs = near_dup_edges(spark, sf_dir)
    deg = (
        pairs.select(F.col("d1").alias("node"))
        .unionAll(pairs.select(F.col("d2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return deg.groupBy(
        F.floor(F.log2("degree")).cast("long").alias("degree_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.min("degree").cast("long").alias("min_degree"),
        F.max("degree").cast("long").alias("max_degree"),
    )
