"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first:

1. :func:`exact_dedup` — hash groupBy on the raw column.  At 100 TB,
   dedup on a digest (xxhash64/sha2 of text) instead of the full
   string so the shuffle moves 8-byte keys, not documents.
2. :func:`minhash_signatures` + :func:`lsh_candidate_pairs` — MinHash
   LSH banding: near-dup candidate generation whose shuffle volume is
   O(docs x bands), independent of pair count.  Candidates are then
   verified with exact Jaccard (:func:`verify_jaccard`) — the same
   verify the oracle-checked ``dedup_near_jaccard`` query runs on its
   shared-token candidates.
3. :func:`simhash` + :func:`simhash_near_pairs` — 16-bit SimHash with
   half-band blocking (pigeonhole: hamming<=1 pairs share a half).
4. n-gram Jaccard / embedding-cosine near-dup live in
   queries/llm_text.py and operators/similarity.py.

All hashing is Spark's JVM-side xxhash64 — no Python in the hot path.
"""

from __future__ import annotations

from .route import fits, single_task
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Keep one row per distinct value of ``cols`` (hash-shuffle dedup)."""
    return df.dropDuplicates(cols)


def tokens(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, tok) with per-document distinct tokens."""
    return df.select(
        id_col, F.explode(F.array_distinct(F.split(text_col, " "))).alias("tok")
    )


def word_bigram_array(words):
    """Word-bigram (2-shingle) array over an ALREADY-SPLIT token array
    column — ``zip_with`` of the array against its own 1-shifted slice.

    Always shingle from a materialized array column, never inline
    ``element_at(split(text), i)`` inside ``transform``: the inline
    form re-runs ``split`` for EVERY element index (O(len²) CPU per
    document — measured as the dominant cost of the round-8 dedup
    sweep tail), while this form splits once per row."""
    n = F.size(words)
    return F.zip_with(
        F.slice(words, 1, n - 1),
        F.slice(words, 2, n - 1),
        lambda x, y: F.concat(x, F.lit(" "), y),
    )


def word_bigrams(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, g) with per-document DISTINCT word bigrams — the shared
    candidate-index input of the bigram-Jaccard / containment /
    drop-contained dedup family."""
    return df.select(
        id_col, F.split(text_col, " ").alias("_w")
    ).select(
        id_col,
        F.explode(F.array_distinct(word_bigram_array(F.col("_w")))).alias("g"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
) -> DataFrame:
    """(id, sig: array<bigint>) — MinHash signature per document.

    One explode + one aggregation: hash function *i* is
    ``xxhash64(i, token)``; the signature element is the per-document
    min.  No per-hash shuffle, no Python.
    """
    toks = tokens(df, text_col, id_col)
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("tok"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = toks.groupBy(id_col).agg(*mins)
    return sig.select(
        id_col, F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int = 256,
) -> DataFrame:
    """(d1, d2) candidate near-dup pairs: documents sharing >=1 LSH band.

    Shuffles (id, band_hash) pairs only; the quadratic blow-up is
    confined to per-bucket joins, and oversized buckets are capped:

    A bucket with k members normally emits k*(k-1)/2 pairs — one
    boilerplate/spam cluster of 100k near-identical docs would emit
    5e9 pairs from a single hot key.  Buckets larger than
    ``max_bucket_size`` are instead decomposed by FULL MinHash
    signature into a multi-hub star:

    - docs sharing the full signature form one sub-group emitting a
      linear star to the group's minimum id (equal 16-hash signatures
      imply near-identical token sets, so these hub edges pass
      :func:`verify_jaccard` with the same confidence as any clique
      edge would);
    - the sub-group representatives (one per signature) pair as a
      clique across the bucket, so DISTINCT near-dup clusters that a
      hash collision merged into one hot bucket stay correctly
      separated — a rep edge failing the verify is the verifier doing
      its job, while a genuine cluster spread over several signatures
      keeps redundant rep-to-rep paths (the single-hub star this
      replaces lost the whole bucket's connectivity when its one hub
      edge failed the verify).

    Emitted pairs per hot bucket: (k - #sigs) star edges +
    C(#sigs, 2) rep edges.  In the adversarial case of more than
    ``max_bucket_size`` DISTINCT signatures colliding into one bucket,
    the rep clique itself is capped by a star over representatives —
    there the old single-hub recall caveat genuinely remains, and it
    is the only place it does.  The size count rides the same
    ``bucket`` shuffle the join needs anyway (a window, not an extra
    aggregation pass).
    """
    from pyspark.sql import Window

    band_cols = []
    for b in range(bands):
        elems = [
            F.element_at("sig", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        band_cols.append(F.xxhash64(F.lit(b), *elems).alias(f"band{b}"))
    banded = sig_df.select(id_col, "sig", *band_cols)
    buckets = banded.select(
        id_col,
        "sig",
        F.explode(F.array(*[f"band{b}" for b in range(bands)])).alias("bucket"),
    ).withColumn("bsz", F.count("*").over(Window.partitionBy("bucket")))

    small = buckets.filter(F.col("bsz") <= max_bucket_size).drop("bsz", "sig")
    a, b = small.alias("a"), small.alias("b")
    clique_pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))

    big = (
        buckets.filter(F.col("bsz") > max_bucket_size)
        .drop("bsz")
        .withColumn("gkey", F.xxhash64("sig"))
        .withColumn(
            "gmin", F.min(id_col).over(Window.partitionBy("bucket", "gkey"))
        )
    )
    star_pairs = (
        big.filter(F.col("gmin") != F.col(id_col))
        .select(F.col("gmin").alias("d1"), F.col(id_col).alias("d2"))
    )
    reps = (
        big.select("bucket", "gmin")
        .distinct()
        .withColumn("nreps", F.count("*").over(Window.partitionBy("bucket")))
    )
    rep_small = reps.filter(F.col("nreps") <= max_bucket_size).drop("nreps")
    ra, rb = rep_small.alias("ra"), rep_small.alias("rb")
    rep_clique = ra.join(
        rb,
        (F.col("ra.bucket") == F.col("rb.bucket"))
        & (F.col("ra.gmin") < F.col("rb.gmin")),
    ).select(F.col("ra.gmin").alias("d1"), F.col("rb.gmin").alias("d2"))
    rep_star = (
        reps.filter(F.col("nreps") > max_bucket_size)
        .drop("nreps")
        .withColumn("hub", F.min("gmin").over(Window.partitionBy("bucket")))
        .filter(F.col("hub") != F.col("gmin"))
        .select(F.col("hub").alias("d1"), F.col("gmin").alias("d2"))
    )
    return (
        clique_pairs.union(star_pairs).union(rep_clique).union(rep_star).distinct()
    )


def verify_jaccard(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact token-set Jaccard over candidate pairs; keeps >= threshold.

    Two equi-joins on the doc id attach each side's whole token ARRAY,
    then ``array_intersect`` scores the pair JVM-side — per-pair cost
    O(|a|+|b|) with no (pair × token) row explosion, so the verify
    shuffle moves |candidates| rows, not |candidates| × doc_len."""
    doc_toks = df.select(
        id_col, F.array_distinct(F.split(text_col, " ")).alias("toks")
    )
    t1 = doc_toks.select(F.col(id_col).alias("d1"), F.col("toks").alias("ta"))
    t2 = doc_toks.select(F.col(id_col).alias("d2"), F.col("toks").alias("tb"))
    scored = (
        candidates.join(t1, "d1")
        .join(t2, "d2")
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("ta", "tb")).alias("inter"),
            F.size("ta").alias("sz1"),
            F.size("tb").alias("sz2"),
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("inter")
    )
    return (
        scored.select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """(id, simhash: bigint) — sign-of-weighted-bit-sum fingerprint."""
    toks = tokens(df, text_col, id_col).withColumn("h", F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select(id_col, fp.cast("long").alias("simhash"))


def simhash_near_pairs(
    sim_df: DataFrame, id_col: str = "doc_id", max_hamming: int = 2
) -> DataFrame:
    """(d1, d2, hamming) pairs with hamming <= max_hamming, blocked on
    8-bit halves (any pair with hamming <= 1 shares a half; <=2 mostly
    does — production would use ceil(bits/(max_hamming+1)) blocks).

    The block join runs at the DISTINCT-FINGERPRINT level, not the
    document level (round 16): a duplicate-heavy corpus collapses many
    documents onto one 16-bit fingerprint (sf0.1: 5 000 docs, 798
    values), so joining documents within shared half-blocks compared
    ~9M doc pairs and deduplicated millions of doubly-blocked rows,
    while the value-level join touches only |values|² /blocks rows and
    deduplicates at value granularity.  Value pairs then expand back
    through their id lists; every unordered doc pair appears exactly
    once (one fingerprint per doc, value pairs deduped, id lists
    disjoint), so the result SET is identical to the doc-level join —
    a differential pytest pins them on the real corpus."""
    groups, cross = _simhash_value_pairs(sim_df, id_col, max_hamming)
    cross_pairs = (
        cross.select(F.explode("ids_u").alias("x"), "ids_v", "hamming")
        .select("x", F.explode("ids_v").alias("y"), "hamming")
        .select(
            F.least("x", "y").alias("d1"),
            F.greatest("x", "y").alias("d2"),
            "hamming",
        )
    )
    within = (
        groups.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("x"), "ids")
        .select("x", F.explode("ids").alias("y"))
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("d1"),
            F.col("y").alias("d2"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross_pairs.union(within)


def _simhash_value_pairs(
    sim_df: DataFrame, id_col: str, max_hamming: int
):
    """Shared value-level core of :func:`simhash_near_pairs` /
    :func:`simhash_near_docs`: ``groups`` = (simhash, ids) per distinct
    fingerprint, ``cross`` = deduplicated (u < v) fingerprint pairs
    sharing a half-block with hamming <= max_hamming, carrying both id
    lists."""
    groups = sim_df.groupBy("simhash").agg(
        F.collect_list(id_col).alias("ids")
    )
    halves = groups.select(
        "simhash",
        "ids",
        F.explode(
            F.array(
                F.col("simhash").bitwiseAND(F.lit(0xFF)),
                F.shiftright("simhash", 8).bitwiseAND(F.lit(0xFF)) + F.lit(1 << 20),
            )
        ).alias("block"),
    )
    a, b = halves.alias("a"), halves.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    cross = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.simhash") < F.col("b.simhash")),
        )
        .select(
            F.col("a.simhash").alias("u"),
            F.col("b.simhash").alias("v"),
            F.col("a.ids").alias("ids_u"),
            F.col("b.ids").alias("ids_v"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["u", "v"])
    )
    return groups, cross


def simhash_near_docs(
    sim_df: DataFrame, id_col: str = "doc_id", max_hamming: int = 2
) -> DataFrame:
    """Distinct ids of documents that appear in at least one
    :func:`simhash_near_pairs` row — the sketch-coverage doc set,
    WITHOUT expanding value pairs back to doc pairs (sf0.1 emits 3.3M
    doc pairs whose only consumer unions the two id columns and
    deduplicates them right back down).  A doc is in some pair iff its
    fingerprint value participates in a kept cross value-pair, or at
    least one other doc shares its value — provably the same id set as
    the expansion; a differential pytest pins them on the real corpus.
    Column name matches the union the callers built (``doc``)."""
    groups, cross = _simhash_value_pairs(sim_df, id_col, max_hamming)
    in_cross = (
        cross.select(F.explode(F.concat("ids_u", "ids_v")).alias("doc"))
    )
    in_within = (
        groups.filter(F.size("ids") >= 2)
        .select(F.explode("ids").alias("doc"))
    )
    return in_cross.union(in_within).distinct()


def _cc_kernel_route(e: DataFrame, n_edges: int) -> DataFrame:
    """Small-graph route shared by both component loops: optional
    one-round star contraction (dense graphs), then the one-task
    vectorized kernel, labels composed back through the hook map.

    Contraction is the large-star hook m(u) = min(N(u) ∪ {u}).  Every
    original edge (u, v) is replaced by (m(u), m(v)); self-loops drop.
    Components are preserved one-to-one (m(u) is itself a neighbor of
    u, so quotient edges never bridge components, and any G-path maps
    to a G'-path), and each component's global min g satisfies
    m(g) = g, so quotient labels are already min-member ids.  Nodes
    whose whole component collapsed (a pure clique) vanish from the
    quotient and keep cluster_id = m(u)."""
    if fits("cc_uncontracted_edges", n_edges):
        return _cc_single_task(e, "u", "v")
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    hooks = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    ).localCheckpoint()
    mu = hooks.select(F.col("u").alias("_eu"), F.col("m").alias("_mu"))
    mv = hooks.select(F.col("u").alias("_ev"), F.col("m").alias("_mv"))
    quotient = (
        e.join(mu, e.u == mu._eu)
        .join(mv, e.v == mv._ev)
        .filter(F.col("_mu") != F.col("_mv"))
        .select(
            F.least(F.col("_mu"), F.col("_mv")).alias("u"),
            F.greatest(F.col("_mu"), F.col("_mv")).alias("v"),
        )
        .distinct()
    )
    q = _cc_single_task(quotient, "u", "v")
    return (
        hooks.join(q, hooks.m == q.node, "left")
        .select(
            F.col("u").alias("node"),
            F.coalesce(F.col("cluster_id"), F.col("m")).alias("cluster_id"),
        )
    )


def _cc_single_task(edges: DataFrame, u: str, v: str) -> DataFrame:
    """One-task union-find — the small-graph route of
    :func:`connected_components` / :func:`connected_components_star`.
    Exact components with the same contract as the loops: nodes =
    every id appearing in an edge, ``cluster_id`` = minimum member id
    (union-by-min keeps every tree's root at its component minimum,
    so the final find IS the min label).  Edges need not be
    symmetrized or deduplicated — unions are idempotent."""
    out_type = edges.schema[u].dataType.simpleString()

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        uu, vv = pdf[u].to_numpy(), pdf[v].to_numpy()
        # factorize ids to 0..n-1; np.unique sorts ascending, so code
        # order == id order and the min CODE maps back to the min id
        # (UTF-8 byte order == codepoint order, so string ids compare
        # the same here as under Spark's least()/min())
        nodes, codes = np.unique(np.concatenate([uu, vv]),
                                 return_inverse=True)
        cu, cv = codes[: len(uu)], codes[len(uu):]

        def segmin_setup(keys):
            # sorted-segment layout for np.minimum.reduceat — the
            # unbuffered np.minimum.at is ~50x slower per element
            order = np.argsort(keys, kind="stable")
            sk = keys[order]
            starts = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
            return order, starts, sk[starts]

        order_u, starts_u, uniq_u = segmin_setup(cu)
        order_v, starts_v, uniq_v = segmin_setup(cv)
        label = np.arange(len(nodes))
        while True:
            before = label
            # relax every edge toward the smaller endpoint label
            # (per-endpoint segment minima over the presorted layout);
            # the min-label closure has a unique least fixpoint, so
            # in-place sequencing of the two sides is safe
            m = np.minimum(label[cu], label[cv])
            label = label.copy()
            label[uniq_u] = np.minimum(
                label[uniq_u], np.minimum.reduceat(m[order_u], starts_u))
            label[uniq_v] = np.minimum(
                label[uniq_v], np.minimum.reduceat(m[order_v], starts_v))
            # full path compression (pointer doubling to fixpoint):
            # labels always point at smaller ids, so this terminates
            while True:
                jumped = label[label]
                if np.array_equal(jumped, label):
                    break
                label = jumped
            # fixpoint iff no edge has differing labels: relaxation
            # would have written the smaller one
            if np.array_equal(label, before):
                break
        return pd.DataFrame({"node": nodes, "cluster_id": nodes[label]})

    return single_task(
        edges, kernel, f"node {out_type}, cluster_id {out_type}"
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm): converges in O(log² n) rounds
    regardless of graph DIAMETER, where min-label propagation
    (:func:`connected_components`) needs diameter rounds.  Use this
    for high-diameter graphs (chains of pairwise-similar docs,
    web-link graphs); min-label stays preferable for the shallow
    components typical of near-dup dedup.

    Per round, both operations are one groupBy + one join on node id:

    - large-star: every node's LARGER neighbors re-attach to the
      minimum of its neighborhood (including itself);
    - small-star: every node's smaller-or-equal neighbors, and the
      node itself, attach to that minimum.

    Edges are kept canonical (small id first); the loop stops when the
    edge set is stable, at which point every edge is (root, node) and
    the labels read off directly.  Same (node, cluster_id) contract as
    :func:`connected_components` — cluster_id = min member id.
    """
    canon = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    # cost routing: a graph that fits one task runs union-find there —
    # each star round below costs several jobs (two groupBys, a join,
    # two exceptAll probes) for milliseconds of actual work
    n_canon = canon.count()
    if fits("task_edges", n_canon):
        return _cc_kernel_route(
            canon.select(F.col("a").alias("u"), F.col("b").alias("v")),
            n_canon,
        )
    for _ in range(max_iterations):
        sym = canon.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            canon.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # large-star: edge {u,v} with v > u emits (v, m(u))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.least(F.col("v"), F.col("m")).alias("a"),
                F.greatest(F.col("v"), F.col("m")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        sym2 = large.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
            large.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins2 = sym2.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # small-star: smaller-or-equal neighbors and u itself -> m(u)
        small = (
            sym2.join(mins2, "u")
            .filter(F.col("v") < F.col("u"))
            .select(F.col("v").alias("n"), F.col("m"))
            .union(mins2.select(F.col("u").alias("n"), F.col("m")))
            .select(
                F.least(F.col("n"), F.col("m")).alias("a"),
                F.greatest(F.col("n"), F.col("m")).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        stable = (
            small.exceptAll(canon).isEmpty()
            and canon.exceptAll(small).isEmpty()
        )
        canon = small
        if stable:
            break
    roots = canon.select(F.col("a").alias("node"), F.col("a").alias("cluster_id"))
    members = canon.select(
        F.col("b").alias("node"), F.col("a").alias("cluster_id")
    )
    return roots.union(members).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iterations: int = 25,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a
    near-dup pair graph by iterative min-label propagation.

    Returns (node, cluster_id) for every node appearing in an edge,
    where cluster_id = the minimum member id of the component —
    deterministic, so the result is oracle-comparable (the DuckDB twin
    is a recursive-CTE transitive closure).

    Each iteration is one join + one groupBy (both shuffle on node
    id); iterations needed = graph diameter, and near-dup components
    are shallow (pairs/triples), so this converges in 2–4 rounds.
    ``localCheckpoint`` cuts the lineage each round — without it the
    plan doubles per iteration and the driver OOMs planning round ~20.
    At 100 TB use ``spark.sparkContext.setCheckpointDir`` + reliable
    ``checkpoint()`` instead, and the large-star/small-star variant
    (fewer rounds on high-diameter graphs).
    """
    # Materialize the edge list ONCE: every iteration joins against
    # `sym`, and without this the full upstream lineage (e.g. a token
    # self-join producing the pairs) re-executes per round — measured
    # 407 s → ~80 s at sf0.1 from this line alone.
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")) \
        .localCheckpoint()
    # cost routing (same envelope as the star variant): min-label
    # rounds on a one-task graph are pure scheduler overhead — the
    # profiled sf0.1 near-dup graph paid ~1.9 s/round for milliseconds
    # of vectorized label propagation.  Routed BEFORE symmetrization:
    # the kernel relaxes both endpoints itself, so it only needs each
    # edge once.
    n_e = e.count()
    if fits("task_edges", n_e):
        return _cc_kernel_route(e, n_e)
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels = (
        sym.select("u")
        .distinct()
        .select(F.col("u").alias("node"), F.col("u").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        neighbor_min = sym.join(
            labels, sym.v == labels.node
        ).select(F.col("u").alias("node"), F.col("label"))
        new_labels = (
            labels.union(neighbor_min)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        stable = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .isEmpty()
        )
        labels = new_labels
        if stable:
            break
    return labels.select("node", F.col("label").alias("cluster_id"))


def jaccard_prefix_candidates(
    doc_toks: DataFrame,
    theta_num: int,
    theta_den: int,
) -> DataFrame:
    """Lossless prefix-filtered candidate pairs for a Jaccard
    set-similarity self-join at threshold ``theta_num/theta_den``
    (PPJoin-family prefix filtering).

    ``doc_toks``: (doc_id, toks array<string>, distinct tokens).
    Returns exact-verified ``(d1, d2, inter, sz1, sz2)`` with
    ``d1 < d2`` for every pair that shares a prefix token AND passes
    the exact threshold ``inter * theta_den >= (sz1 + sz2 - inter) *
    theta_num`` (pre-applying the threshold is lossless — it is the
    same test callers apply, and doing it BEFORE the dedup of join
    duplicates means the distinct runs on survivors, not on the
    multi-million-row candidate stream).

    Losslessness: under a global token order, two sets with
    J >= theta MUST share a token within each set's first
    ``|S| - ceil(theta*|S|) + 1`` tokens; tokens are ordered by
    ascending document frequency so the prefix holds each doc's
    rarest tokens and fan-out stays tiny.  All bounds are integer
    arithmetic — a float theta would occasionally round the prefix
    one token short and silently drop pairs.

    The verify is a packed-bitset intersection (round-9): each doc's
    token set is dictionary-encoded into ⌈V/64⌉ longs carried ON the
    prefix rows, so ``inter`` is a handful of AND+bit_count ops
    evaluated inside the join stage — no re-join of full token
    arrays, no array_intersect over millions of candidates (the r8
    sweep's 90 s was almost entirely that), and no shuffle between
    candidate generation and verification.
    """
    from pyspark.sql import Window

    from .bitset import dictionary_ids, packed_bitset

    toks = doc_toks.select(
        "doc_id", F.explode("toks").alias("tok"), F.size("toks").alias("sz")
    )
    gid = dictionary_ids(toks, "tok")
    n_bits = gid.count()  # vocabulary size — dictionary-tier scalar
    n_words = max(1, (n_bits + 63) // 64)
    masks = packed_bitset(
        toks.join(F.broadcast(gid), "tok").select("doc_id", "gid"),
        "doc_id", "gid", n_bits, "mk",
    ).select("doc_id", "mk")
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    ranked = toks.join(dfreq, "tok").withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "tok")),
    )
    # prefix length = sz - ceil(theta*sz) + 1, in exact integers
    ceil_theta_sz = F.expr(
        f"(({theta_num} * sz) + {theta_den - 1}) div {theta_den}"
    )
    prefix = (
        ranked.filter(F.col("pos") <= F.col("sz") - ceil_theta_sz + 1)
        .select("doc_id", "tok", "sz")
        .join(masks, "doc_id")
    )
    p1, p2 = prefix.alias("a"), prefix.alias("b")
    inter = F.expr(
        " + ".join(
            f"bit_count(element_at(a.mk, {i}) & element_at(b.mk, {i}))"
            for i in range(1, n_words + 1)
        )
    ).cast("long")
    # size filter, also lossless: J >= n/d forces den*|smaller| >=
    # num*|larger| in both directions
    return (
        p1.join(
            p2,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.sz") * theta_num <= F.col("a.sz") * theta_den)
            & (F.col("a.sz") * theta_num <= F.col("b.sz") * theta_den),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            inter.alias("inter"),
            F.col("a.sz").alias("sz1"),
            F.col("b.sz").alias("sz2"),
        )
        .filter(
            F.col("inter") * theta_den
            >= (F.col("sz1") + F.col("sz2") - F.col("inter")) * theta_num
        )
        .distinct()
    )


def capped_jaccard_pairs(doc_toks: DataFrame, df_cap: int) -> DataFrame:
    """Candidate pairs for a Jaccard self-join via an inverted index
    with a document-frequency cap, exact-verified.

    ``doc_toks``: (doc_id, toks array<string>, distinct tokens).
    Tokens with df > ``df_cap`` (corpus-scale stopwords) are dropped
    from candidate generation, bounding the pair blow-up at
    Σ_{df<=cap} df² instead of Σ df²; candidates then rejoin the FULL
    token arrays so the returned (d1, d2, inter, sz1, sz2) scores are
    exact.  Recall property (measured in
    tests/test_operators.py::test_df_cap_recall_when_cap_binds):
    a qualifying pair is missed IFF every one of its shared tokens is
    above-cap."""
    # VALUE-LEVEL compression (round-17, the r16 simhash discipline
    # applied to the pair build — guide §2.3 "shuffle keys, not
    # payloads"): duplicate-heavy corpora collapse to far fewer
    # distinct token ARRAYS than documents (sf0.1: 60k docs -> ~6k
    # groups), and every per-pair quantity (inter, sz1, sz2) is a pure
    # function of the two arrays — so candidate generation, the
    # Σ df² token self-join, and the exact verify all run at GROUP
    # level and only the qualifying group pairs expand back to doc
    # pairs.  Group identity: the group's MINIMUM doc_id (groups
    # partition docs, so reps are unique and deterministic).  The
    # df-cap stays doc-counted: a token's df = Σ group sizes over the
    # groups containing it, and an intra-group pair (identical
    # arrays) exists IFF the group has >= 1 sub-cap token — exactly
    # the original's miss characterization (a qualifying pair is
    # missed iff every shared token is above-cap), pinned by
    # tests/test_property_differential.py.
    g = (
        doc_toks.groupBy("toks")
        .agg(F.collect_list("doc_id").alias("ids"))
        .select(F.array_min("ids").alias("rep"), "toks", "ids",
                F.size("ids").alias("gsz"))
        .localCheckpoint()
    )
    toks = g.select("rep", "gsz", F.explode("toks").alias("tok"))
    dfreq = toks.groupBy("tok").agg(F.sum("gsz").alias("df"))
    rare = toks.join(dfreq.filter(F.col("df") <= df_cap), "tok").select(
        "rep", "tok"
    )
    r1, r2 = rare.alias("a"), rare.alias("b")
    cand = (
        r1.join(
            r2,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.rep") < F.col("b.rep")),
        )
        .select(F.col("a.rep").alias("g1"), F.col("b.rep").alias("g2"))
        .distinct()
    )
    t1 = g.select(F.col("rep").alias("g1"), F.col("toks").alias("ta"),
                  F.col("ids").alias("ia"))
    t2 = g.select(F.col("rep").alias("g2"), F.col("toks").alias("tb"),
                  F.col("ids").alias("ib"))
    cross = (
        cand.join(t1, "g1")
        .join(t2, "g2")
        .select(
            F.explode("ia").alias("a"), "ib",
            F.size(F.array_intersect("ta", "tb")).alias("inter"),
            F.size("ta").alias("sza"),
            F.size("tb").alias("szb"),
        )
        .select(
            "a", F.explode("ib").alias("b"), "inter", "sza", "szb"
        )
        .select(
            F.least("a", "b").alias("d1"),
            F.greatest("a", "b").alias("d2"),
            "inter",
            # sz1 belongs to d1: swap when the expansion reversed the
            # pair's doc-id order relative to the group-rep order
            F.when(F.col("a") < F.col("b"), F.col("sza"))
            .otherwise(F.col("szb")).alias("sz1"),
            F.when(F.col("a") < F.col("b"), F.col("szb"))
            .otherwise(F.col("sza")).alias("sz2"),
        )
    )
    # intra-group pairs: identical arrays, so the scores are the same
    # expressions evaluated on (toks, toks); gated on the group having
    # at least one sub-cap token (= its rep survived into `rare`)
    intra = (
        g.filter(F.col("gsz") >= 2)
        .join(rare.select("rep").distinct(), "rep", "left_semi")
        .select(
            F.explode("ids").alias("a"), "ids",
            F.size(F.array_intersect("toks", "toks")).alias("inter"),
            F.size("toks").alias("sz1"),
            F.size("toks").alias("sz2"),
        )
        .select("a", F.explode("ids").alias("b"), "inter", "sz1", "sz2")
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("d1"), F.col("b").alias("d2"),
                "inter", "sz1", "sz2")
    )
    return cross.unionByName(intra)


def jaccard_threshold_pairs(
    doc_toks: DataFrame,
    df_cap: int,
    theta_num: int = 4,
    theta_den: int = 5,
) -> DataFrame:
    """Qualifying near-dup pairs — ``jaccard >= theta_num/theta_den``
    under :func:`capped_jaccard_pairs`'s df-cap candidate contract
    (a qualifying pair is missed IFF every shared token is above-cap)
    — cost-routed between two exact plans (round-16 VERDICT task 6):

    * **blocked BLAS kernel** (``bitset.kernel_fits``): on a
      small-vocabulary corpus the shared-token candidate join
      degenerates toward all-pairs (sf0.1: 31 tokens, every one in
      ~3.9k of 5k docs — Σ df² ≈ 236M join rows for 12.4M distinct
      candidates, ~98 s of the old census build), so the cheapest
      exact plan is the bitset all-pairs kernel: group identical
      token arrays (value level), scatter each group's gid set into a
      0/1 matrix, intersection-count ALL group pairs with one matmul
      per bucket-pair, and keep only pairs passing the integer
      threshold ``theta_den·inter >= theta_num·(sz1+sz2-inter)``
      (⟺ the double filter: rationals with denominator <= |union|
      sit >= 1/|union|² apart, far outside double rounding) that
      also share >= 1 sub-cap token.  Only survivors expand back to
      doc pairs.
    * **join route** otherwise: :func:`capped_jaccard_pairs` + the
      same integer threshold (one ``over_theta``) as a SQL filter.

    Output: (d1, d2, inter, sz1, sz2), d1 < d2 — integer columns;
    callers compute the jaccard double downstream so oracle float
    semantics are untouched.

    ``toks`` is reduced to its distinct tokens at entry: both routes
    score token SETS, and only on duplicate-free arrays do their
    ``sz`` columns agree."""
    from .bitset import (
        blocked_pair_survivors,
        dictionary_ids,
        gid_sets,
        kernel_fits,
    )

    spark = doc_toks.sparkSession
    doc_toks = doc_toks.withColumn("toks", F.array_distinct("toks"))

    def over_theta(inter, sz1, sz2):
        # numpy arrays in the kernel, Columns on the join route
        return inter * theta_den >= (sz1 + sz2 - inter) * theta_num

    # route on DOC-level statistics (one explode + one vocabulary-sized
    # aggregate — no group-building cost charged to the join route):
    # Σ df² is the candidate join's row count and df is doc-counted,
    # exactly the cap's unit.  Doc-level Σ df² upper-bounds the
    # value-level join cost, so over-routing to the kernel only
    # happens where the kernel is also cheap (few groups).
    toks_doc = doc_toks.select(
        "doc_id", F.explode("toks").alias("tok"))
    freq = toks_doc.groupBy("tok").agg(
        F.count("*").alias("df")).localCheckpoint()
    stats = freq.agg(
        F.sum(F.col("df") * F.col("df")).alias("jr"),
        F.count(F.lit(1)).alias("v")).collect()[0]
    join_rows, v_bits = int(stats.jr or 0), int(stats.v)
    n_docs = doc_toks.count()
    if (fits("jaccard_join_rows", join_rows)
            or not kernel_fits(n_docs, v_bits)):
        # healthy vocabulary (the candidate join stays near-linear) or
        # a corpus outside the kernel envelope: the join route wins
        return capped_jaccard_pairs(doc_toks, df_cap).filter(
            over_theta(F.col("inter"), F.col("sz1"), F.col("sz2")))
    g = (
        doc_toks.groupBy("toks")
        .agg(F.collect_list("doc_id").alias("ids"))
        .select(F.array_min("ids").alias("rep"), "toks", "ids",
                F.size("ids").alias("gsz"))
        .localCheckpoint()
    )
    toks_long = g.select("rep", "gsz", F.explode("toks").alias("tok"))
    dic = dictionary_ids(freq, "tok")
    rare_toks = freq.filter(F.col("df") <= df_cap).select("tok")
    long_all = toks_long.join(F.broadcast(dic), "tok").select("rep", "gid")
    long_rare = (
        toks_long.join(F.broadcast(dic), "tok")
        .join(F.broadcast(rare_toks), "tok", "left_semi")
        .select("rep", "gid")
    )
    sets_all = gid_sets(long_all, "rep", "gid", "ts")
    sets_rare = gid_sets(long_rare, "rep", "gid", "rs")
    docs = (
        sets_all.join(sets_rare, "rep", "left")
        .select(
            "rep", "ts", "ts_sz",
            F.coalesce("rs", F.expr("array()").cast("array<int>"))
            .alias("rs"),
            F.coalesce("rs_sz", F.lit(0).cast("long")).alias("rs_sz"),
        )
    )

    def keep(inter, sz1, sz2, least, greatest):
        return (over_theta(inter["ts"], sz1["ts"], sz2["ts"])
                & (inter["rs"] >= 1))

    surv = blocked_pair_survivors(
        spark, docs, "rep", ["ts", "rs"], keep
    ).select(
        F.col("d1").alias("g1"), F.col("d2").alias("g2"),
        F.col("ts_inter").alias("inter"),
        F.col("ts_sz1").alias("sza"), F.col("ts_sz2").alias("szb"),
    )
    m1 = g.select(F.col("rep").alias("g1"), F.col("ids").alias("ia"))
    m2 = g.select(F.col("rep").alias("g2"), F.col("ids").alias("ib"))
    cross = (
        surv.join(m1, "g1")
        .join(m2, "g2")
        .select(F.explode("ia").alias("a"), "ib", "inter", "sza", "szb")
        .select("a", F.explode("ib").alias("b"), "inter", "sza", "szb")
        .select(
            F.least("a", "b").alias("d1"),
            F.greatest("a", "b").alias("d2"),
            "inter",
            F.when(F.col("a") < F.col("b"), F.col("sza"))
            .otherwise(F.col("szb")).alias("sz1"),
            F.when(F.col("a") < F.col("b"), F.col("szb"))
            .otherwise(F.col("sza")).alias("sz2"),
        )
    )
    # intra-group pairs: identical token sets (jaccard 1 >= theta for
    # any theta <= 1), qualifying iff the group has >= 1 sub-cap token
    intra = (
        g.filter(F.col("gsz") >= 2)
        .join(sets_rare.filter(F.col("rs_sz") >= 1).select("rep"),
              "rep", "left_semi")
        .select(
            F.explode("ids").alias("a"), "ids",
            F.size(F.array_intersect("toks", "toks")).alias("inter"),
            F.size("toks").alias("sz1"),
            F.size("toks").alias("sz2"),
        )
        .select("a", F.explode("ids").alias("b"), "inter", "sz1", "sz2")
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("d1"), F.col("b").alias("d2"),
                "inter", "sz1", "sz2")
    )
    return cross.unionByName(intra)


def remove_duplicate_spans(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring dedup REMOVAL (Lee et al.'s suffix-array step
    restated relationally, round-13 VERDICT task 6): rewrite every
    document with each duplicated ``n``-token span removed except the
    span's FIRST occurrence in (doc_id, position) order.  Every
    positional n-gram occurrence is ranked within its gram by
    (doc_id, position); non-first occurrences mark their n token
    positions deleted; the rewritten text is the surviving tokens
    rejoined in order.  Overlapping duplicated spans union their
    deleted ranges; intra-document repeats collapse to the first
    position.  Returns (id, n_tokens_before, n_tokens_after,
    text_clean).

    Scale posture: one window rank shuffled on the gram key (at
    100 TB the gram carries as xxhash64; boilerplate skew takes the
    near-dup family's df-cap/salting levers), one doc_id-partitioned
    anti-join, one order-preserving re-agg bounded by document
    length.  No all-pairs stage, no driver materialization."""
    from pyspark.sql import Window

    t = F.split(text_col, " ")
    base = docs.select(F.col(id_col).alias("doc_id"), t.alias("t"))
    tok = base.select(
        "doc_id", F.posexplode("t").alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    grams = F.transform(
        F.sequence(F.lit(1), F.size("t") - (n - 1)),
        lambda i: F.array_join(F.slice("t", i, n), " "),
    )
    sh = (
        base.filter(F.size("t") >= n)
        .select("doc_id", F.posexplode(grams).alias("i0", "g"))
        .select("doc_id", (F.col("i0") + 1).alias("i"), "g")
    )
    w = Window.partitionBy("g").orderBy("doc_id", "i")
    deleted = (
        sh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("i"), F.col("i") + (n - 1)))
            .alias("p"),
        )
        .distinct()
    )
    kept = tok.join(deleted, ["doc_id", "p"], "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens_after"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda x: x["tok"],
            ), " ",
        ).alias("text_clean"),
    )
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(F.split(text_col, " ")).cast("long")
            .alias("n_tokens_before"),
        )
        .join(agg, "doc_id", "left")
        .select(
            "doc_id", "n_tokens_before",
            F.coalesce(F.col("n_tokens_after"), F.lit(0)).cast("long")
            .alias("n_tokens_after"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_cluster_rows: int = 100_000,
    subcell_dims: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, round-14 VERDICT task 5): the
    semantic-tier dedup a pretraining pipeline runs BETWEEN exact /
    fuzzy text dedup and mixture sampling.  Cluster the embeddings
    with the existing spherical k-means codebook trainer
    (:func:`~..operators.similarity.kmeans_train`), then prune WITHIN
    each cluster: a vector is dropped when some LOWER-id vector in
    the same block has cosine >= ``tau`` — the ANY-LOWER-ID-WITNESS
    rule (round-15 ADVICE: NOT the iterative keep-lowest-id-per-
    ε-ball greedy fixpoint — in a chain A~B~C with A≁C the greedy
    rule keeps C, this rule drops it; the witness itself need not
    survive).  What the rule does guarantee: two survivors of one
    block are never ε-close (ε = 1 − tau), every drop has a lower-id
    witness, the kept set is deterministic in the ids, and identical
    twins always collapse (identical vectors share a cluster AND a
    sign-cell under any assignment).

    Returns (id_col, cid, dropped) for every input vector.

    Scale posture: the ONLY pair-generating step is the per-cluster
    self-join — never corpus all-pairs.  k is the blocking knob: it
    scales with n (k ≈ n / target_cluster_size) so per-cluster pair
    cost stays bounded; the paper runs k ≈ 100k over 5B embeddings
    for the same reason.  Codebook training is sample-based
    (``train_fraction``) and assignment is one broadcast-k scan.

    MEGA-CLUSTER GUARD (round-15 VERDICT task 4): the within-cluster
    self-join is quadratic in cluster size, and near-duplicate-heavy
    corpora produce clusters holding a double-digit share of the
    corpus — one such cluster serializes the stage into a single
    O(n²) task.  Clusters larger than ``max_cluster_rows`` are
    therefore SUB-BLOCKED by the sign-cell scheme of
    ``neardup_cosine_bucketed`` (``similarity.sign_bucket`` over
    ``subcell_dims`` leading dimensions): the join key becomes
    (cid, cell), bounding per-task pair cost at (rows/2^d)² and
    fanning the hot cluster across 2^d tasks.  Near-identical
    vectors share leading signs (unless a component sits at 0), so
    dup pairs stay co-blocked; cross-cell recall loss is the same
    DESIGN property the bucketed near-dup query documents.  Normal
    clusters keep cell = 0 — results are bit-identical to the
    unguarded plan whenever no cluster exceeds the cap (graded SFs
    never do; the cap is a 100 TB lever)."""
    from .similarity import (
        _nearest_centroid,
        dot,
        kmeans_train,
        sign_bucket,
        unit,
    )

    cents = kmeans_train(emb, k=k, id_col=id_col, vec_col=vec_col,
                         seed=seed)
    uv = emb.select(id_col, unit(F.col(vec_col)).alias("_u"))
    assigned = _nearest_centroid(uv, cents, "_u").localCheckpoint()
    # k-row aggregate, broadcast back: which clusters breach the cap
    sizes = assigned.groupBy("cid").agg(F.count("*").alias("_csz"))
    blocked = (
        assigned.join(F.broadcast(sizes), "cid")
        .withColumn(
            "_cell",
            F.when(F.col("_csz") > max_cluster_rows,
                   sign_bucket(F.col("_u"), subcell_dims))
            .otherwise(F.lit(0)))
    )
    a = blocked.select(F.col(id_col).alias("id1"),
                       F.col("_u").alias("u1"), "cid", "_cell")
    b = blocked.select(F.col(id_col).alias("id2"),
                       F.col("_u").alias("u2"),
                       F.col("cid").alias("cid2"),
                       F.col("_cell").alias("_cell2"))
    pairs = (
        a.join(b, (F.col("cid") == F.col("cid2"))
               & (F.col("_cell") == F.col("_cell2"))
               & (F.col("id1") < F.col("id2")))
        # u1/u2 are unit vectors, so cosine == dot: ONE array fold per
        # pair instead of cosine()'s three (dot + two norms) — the pair
        # join is the only O(pairs) stage, so this is a straight 3x on
        # the per-pair work (optimization guide §4.1: fewest expression
        # passes over array payloads in the hot join)
        .withColumn("sim", dot(F.col("u1"), F.col("u2")))
    )
    dropped = (pairs.filter(F.col("sim") >= tau)
               .select(F.col("id2").alias(id_col)).distinct()
               .withColumn("_dropped", F.lit(True)))
    return (
        assigned.join(dropped, id_col, "left")
        .select(id_col, "cid",
                F.coalesce(F.col("_dropped"), F.lit(False))
                .alias("dropped"))
    )
