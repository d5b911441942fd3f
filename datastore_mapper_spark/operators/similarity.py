"""Similarity search over embedding columns (array<float>).

Two paths:

- :func:`cosine_topk` — brute force: broadcast the query vector,
  JVM-side fold for the dot product, ``TakeOrderedAndProject`` top-k.
  O(N·d) per query; the right baseline, and the right *verifier* for
  any ANN index.
- :func:`ivf_topk` — IVF-style bucketed ANN: vectors are assigned to
  a deterministic coarse cell (sign pattern of leading dimensions ≙ a
  fixed hyperplane LSH codebook); queries probe only their own cell.
  At 100 TB the table is written partitioned by ``bucket`` so a probe
  is a partition-pruned scan; k-means centroids would replace the sign
  codebook without changing the dataflow.

Everything is expression-level (zip_with/aggregate) — no Python UDF in
the scoring loop; an Arrow pandas-UDF variant only wins once d is in
the thousands.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from ._alloc import keep_large_allocs_on_heap
from .route import fits, single_task
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a, b) -> Column:
    """Element-wise double product folded in array order (bitwise
    reproducible — SURVEY §7.3-H3)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a, b) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_hoisted(a, b, na, nb) -> Column:
    """:func:`cosine` with both self-norm folds hoisted to columns the
    caller computed ONCE PER INPUT ROW below the pair join (``na`` =
    sqrt(dot(a, a)), ``nb`` likewise).  sqrt of the same double is the
    same double and the multiply order is unchanged, so the quotient
    is bit-identical to ``cosine(a, b)`` — but a row scored against k
    partners pays its self-norm fold once, not k times (three
    interpreted HOF folds per pair -> one)."""
    return dot(a, b) / (na * nb)


def cosine_vs_lit(vec, qvec) -> Column:
    """``cosine(vec, F.array(*lits(qvec)))`` with the query self-norm
    computed DRIVER-SIDE from the already-collected ``qvec`` instead of
    re-folding the literal array per scanned row (Catalyst does not
    constant-fold interpreted HOF aggregates).  Bit-identical: the
    Python left fold ``acc += v*v`` replays the JVM fold's IEEE op
    sequence over the same doubles, and sqrt is correctly rounded in
    both runtimes."""
    import math

    qlit = F.array(*[F.lit(float(v)) for v in qvec])
    acc = 0.0
    for v in qvec:
        acc += float(v) * float(v)
    qn = math.sqrt(acc)
    return dot(vec, qlit) / (F.sqrt(dot(vec, vec)) * F.lit(qn))


def sign_bucket(emb, n_dims: int = 4) -> Column:
    """Deterministic coarse cell id from the signs of the first
    ``n_dims`` elements (2**n_dims cells)."""
    acc = F.lit(0)
    for i in range(n_dims):
        acc = acc + F.when(
            F.element_at(emb, i + 1) > 0, F.lit(1 << (n_dims - 1 - i))
        ).otherwise(F.lit(0))
    return acc


def cosine_topk(
    emb_df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of ``query_id`` (excluded)."""
    q = (
        emb_df.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).alias("qe"))
        # query self-norm folded ONCE at broadcast build, not per row
        .withColumn("qn", F.sqrt(dot(F.col("qe"), F.col("qe"))))
    )
    sim = F.round(
        cosine_hoisted(F.col(vec_col), F.col("qe"),
                       F.sqrt(dot(F.col(vec_col), F.col(vec_col))),
                       F.col("qn")), 4)
    return (
        emb_df.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(id_col, sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_topk(
    emb_df: DataFrame,
    query_id: int,
    k: int = 10,
    n_dims: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's coarse cell."""
    bucketed = emb_df.withColumn("bucket", sign_bucket(F.col(vec_col), n_dims))
    q = (
        bucketed.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).alias("qe"), F.col("bucket").alias("qbucket"))
        .withColumn("qn", F.sqrt(dot(F.col("qe"), F.col("qe"))))
    )
    sim = F.round(
        cosine_hoisted(F.col(vec_col), F.col("qe"),
                       F.sqrt(dot(F.col(vec_col), F.col(vec_col))),
                       F.col("qn")), 4)
    return (
        bucketed.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("qbucket"))
        .select(id_col, sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def l2sq(a, b) -> Column:
    """Squared L2 distance, folded in array order (same reproducibility
    contract as :func:`dot`)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double"))
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def unit(vec) -> Column:
    """L2-normalized copy of ``vec`` (doubles).  k-means for COSINE
    retrieval must train/assign on the unit sphere (spherical k-means):
    on unit vectors, L2-argmin == cosine-argmax, so the Lloyd loop and
    the probe both see the geometry the scorer ranks by.

    The norm is hoisted through a singleton-array ``transform`` so the
    ``sqrt(dot(vec, vec))`` fold is evaluated ONCE per row: written
    inline in the per-element lambda it is re-evaluated for every
    element (interpreted higher-order functions do no cross-iteration
    CSE), turning normalization into O(d²) per row — measured as the
    dominant cost of every assignment/normalization pass at d = 64.
    Same operations per element (x / sqrt(dot)), so values are
    bit-identical to the inline form."""
    return F.element_at(
        F.transform(
            F.array(F.sqrt(dot(vec, vec))),
            lambda n: F.transform(vec, lambda x: x.cast("double") / n),
        ),
        1,
    )


def _lloyd(x: np.ndarray, cents: np.ndarray, max_iterations: int) -> np.ndarray:
    """Numpy Lloyd loop over the rows of ``x`` from ``cents`` (updated in
    place and returned).  Semantics mirror the distributed loop of
    :func:`kmeans_train` exactly: ties go to the smallest centroid_id
    (numpy argmin = first minimum = ascending-cid order), empty clusters
    keep their previous centroid, the loop stops when no assignment
    changes."""
    if not len(cents):
        return cents
    assign = None
    for _ in range(max_iterations):
        # pairwise squared L2 via the expanded form
        d2 = (
            (x * x).sum(axis=1)[:, None]
            - 2.0 * (x @ cents.T)
            + (cents * cents).sum(axis=1)[None, :]
        )
        new_assign = d2.argmin(axis=1)
        if assign is not None and np.array_equal(new_assign, assign):
            break
        assign = new_assign
        for j in range(len(cents)):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def _kmeans_single_task(
    vecs: DataFrame,
    init: list[tuple[int, list[float]]],
    max_iterations: int,
    vec_col: str,
) -> DataFrame:
    """One-task :func:`_lloyd` — the small-pool route of
    :func:`kmeans_train`, funneled through ``route.single_task``."""

    def kernel(pdf):
        cents = _lloyd(
            np.array(list(pdf[vec_col]), dtype=np.float64),
            np.array([v for _, v in init], dtype=np.float64),
            max_iterations,
        )
        return pd.DataFrame(
            {
                "centroid_id": pd.Series([cid for cid, _ in init],
                                         dtype="int32"),
                "centroid": [list(c) for c in cents],
            }
        )

    return single_task(
        vecs, kernel, "centroid_id int, centroid array<double>"
    )


def _nearest_centroid(df: DataFrame, centroids: DataFrame, vec_col: str) -> DataFrame:
    """Attach ``cid`` = id of the L2-nearest centroid.  Centroids are
    broadcast (k rows); argmin rides a single min(struct) aggregate-free
    expression via min_by — no window, no extra shuffle beyond the
    groupBy on the row key already implied by the caller."""
    d = F.struct(l2sq(F.col(vec_col), F.col("centroid")).alias("dist"),
                 F.col("centroid_id"))
    scored = df.crossJoin(F.broadcast(centroids)).withColumn("_d", d)
    keep = [c for c in df.columns]
    return (
        scored.groupBy(*keep)
        .agg(F.min("_d").alias("_best"))
        .withColumn("cid", F.col("_best.centroid_id"))
        .drop("_best")
    )


def kmeans_train(
    emb_df: DataFrame,
    k: int = 16,
    max_iterations: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_fraction: float = 1.0,
    normalize: bool = True,
) -> DataFrame:
    """Lloyd-iteration k-means codebook: (centroid_id, centroid).

    Spark-shaped training loop (the IVF codebook trainer the sign-
    pattern cells stand in for):

    - init: the k rows with the smallest ``xxhash64(id, seed)`` — a
      deterministic uniform sample, so retries/retrains reproduce the
      same codebook (no rand(), SURVEY §7.3 determinism rules);
    - assign: broadcast the k centroids, ``min_by`` over a struct —
      one scan, no shuffle;
    - update: posexplode → per-(cid, dim) avg → re-assemble the mean
      vector (dimension-agnostic: no d-wide column list materialized
      in the plan);
    - ``localCheckpoint`` per round cuts the lineage exactly like
      :func:`~datastore_mapper_spark.operators.dedup.connected_components`
      (at 100 TB: reliable ``checkpoint()`` + a sampled training
      subset — the codebook needs ~256k vectors, not the corpus);
    - stop early when no vector changes assignment.

    Empty clusters keep their previous centroid (left join + coalesce),
    so the codebook size is stable at k.  Training runs on L2-normalized
    vectors (:func:`unit`) — spherical k-means — because the downstream
    scorer ranks by cosine.

    ``train_fraction < 1`` trains on a deterministic hash-sampled
    subset (``xxhash64(id, seed)`` threshold — reproducible under
    retries, no rand()): at 100 TB the codebook needs ~10⁵ vectors,
    not the corpus, and assignment/probe still cover every vector.

    ``normalize=False`` trains on RAW vectors (plain L2 k-means) —
    required by product quantization, where subvector magnitudes carry
    signal and per-subspace unit-normalization would distort the
    reconstruction geometry.
    """
    pool = emb_df
    if train_fraction < 1.0:
        # hash → uniform bucket in [0, 1e6); keep the sub-threshold slice
        h = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1_000_000))
        pool = emb_df.filter(h < int(train_fraction * 1_000_000))
    vec_expr = (
        unit(F.col(vec_col))
        if normalize
        else F.transform(F.col(vec_col), lambda x: x.cast("double"))
    )
    vecs = pool.select(id_col, vec_expr.alias(vec_col)).localCheckpoint()
    centroids = (
        vecs.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)))
        .limit(k)
        .select(F.col(vec_col).alias("centroid"))
        .withColumn(
            "centroid_id",
            F.row_number().over(Window.orderBy(F.xxhash64("centroid"))) - 1,
        )
        .select("centroid_id", "centroid")
        .localCheckpoint()
    )
    # Single-task route (round-10, same task-envelope cost routing as
    # operators/bitset.kernel_fits and graph.pagerank): a Lloyd loop
    # over a training pool that fits one task is pure scheduler
    # overhead as a distributed dataflow — 6 iterations over the
    # fixture's 6 000x64 floats (1.5 MB) were paying ~10 s of jobs for
    # ~10 ms of numpy.  Init centroids/ids come from the SAME
    # xxhash64-ordered Spark plan (k rows through the driver — the
    # k-sized control read every trainer already does), so both routes
    # share init, tie rule (argmin = smallest centroid_id), empty-
    # cluster carry-over, and the no-change stop; a differential
    # pytest pins them together.  At 100 TB train_fraction makes the
    # pool ~10^5 vectors, which STILL fits one task — the distributed
    # loop is the fallback for deliberately huge pools.
    n_pool = vecs.count()
    dim = (vecs.select(F.size(vec_col)).first() or [0])[0] if n_pool else 0
    if n_pool and fits("kmeans_pool_bytes", n_pool * max(1, dim) * 8):
        init = [
            (r[0], list(r[1]))
            for r in centroids.orderBy("centroid_id").collect()
        ]
        return _kmeans_single_task(vecs, init, max_iterations, vec_col)
    assign = None
    for _ in range(max_iterations):
        new_assign = (
            _nearest_centroid(vecs, centroids, vec_col)
            .select(id_col, vec_col, "cid")
            .localCheckpoint()
        )
        if assign is not None and (
            new_assign.alias("n")
            .join(assign.alias("o"), id_col)
            .filter(F.col("n.cid") != F.col("o.cid"))
            .isEmpty()
        ):
            assign = new_assign
            break
        assign = new_assign
        means = (
            assign.select("cid", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("new_centroid")
            )
        )
        centroids = (
            centroids.join(means, centroids.centroid_id == means.cid, "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("new_centroid"), F.col("centroid")).alias(
                    "centroid"
                ),
            )
            .localCheckpoint()
        )
    return centroids


def ivf_topk_kmeans(
    emb_df: DataFrame,
    centroids: DataFrame,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe against a trained k-means codebook: score only vectors
    whose nearest centroid is among the query's ``nprobe`` nearest
    cells.  At 100 TB the table is written partitioned by ``cid`` so
    the probe is a partition-pruned scan of nprobe/k of the data."""
    assigned = _nearest_centroid(
        emb_df.select(id_col, vec_col, unit(F.col(vec_col)).alias("_u")),
        centroids,
        "_u",
    ).drop("_u")
    q = emb_df.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qe"), unit(F.col(vec_col)).alias("qu"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("qn"),
    )
    probe_cells = (
        centroids.crossJoin(F.broadcast(q))
        .select("centroid_id", l2sq(F.col("qu"), F.col("centroid")).alias("d"))
        .orderBy("d")
        .limit(nprobe)
        .select(F.col("centroid_id").alias("cid"))
    )
    sim = F.round(
        cosine_hoisted(F.col(vec_col), F.col("qe"),
                       F.sqrt(dot(F.col(vec_col), F.col(vec_col))),
                       F.col("qn")), 4)
    return (
        assigned.join(F.broadcast(probe_cells), "cid")
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(id_col, sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


def _pq_train_single_task(
    vecs: DataFrame,
    inits: dict[int, list[tuple[int, list[float]]]],
    m: int,
    step: int,
    max_iterations: int,
    vec_col: str,
) -> DataFrame:
    """One-task :func:`_lloyd` over ALL ``m`` PQ subspaces at once —
    the small-pool route of :func:`pq_train`, funneled through
    ``route.single_task``.  Per subspace the math is EXACTLY
    :func:`_kmeans_single_task`'s (``ascontiguousarray`` makes each
    slice the same contiguous n×step float64 matrix the per-sub kernel
    built from sliced arrays, so BLAS/pairwise-sum op order is
    unchanged and the codebooks are bit-identical); fusing the m loops
    into one task replaces m checkpoint/count/collect job chains with
    one."""

    def kernel(pdf):
        x_full = np.array(list(pdf[vec_col]), dtype=np.float64)
        subs: list[int] = []
        ids: list[int] = []
        out_cents: list[list[float]] = []
        for s in range(m):
            init = inits[s]
            cents = _lloyd(
                np.ascontiguousarray(x_full[:, s * step:(s + 1) * step]),
                np.array([v for _, v in init], dtype=np.float64),
                max_iterations,
            )
            subs.extend([s] * len(init))
            ids.extend(cid for cid, _ in init)
            out_cents.extend([list(c) for c in cents])
        return pd.DataFrame(
            {
                "sub": pd.Series(subs, dtype="int32"),
                "centroid_id": pd.Series(ids, dtype="int32"),
                "centroid": out_cents,
            }
        )

    return single_task(
        vecs, kernel, "sub int, centroid_id int, centroid array<double>"
    )


def pq_train(
    emb_df: DataFrame,
    m: int = 4,
    k: int = 16,
    dim: int | None = None,
    max_iterations: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Product-quantization codebooks: split each vector into ``m``
    contiguous subvectors and Lloyd-train an independent ``k``-centroid
    codebook per subspace (public PQ scheme, Jégou et al. 2011).

    Returns (sub, centroid_id, centroid) — m small codebooks.  Memory
    per vector after encoding is m log2(k) bits (m=4,k=16 → 2 bytes
    vs 256 float bytes at d=64).

    Small pools (full float64 matrix within
    ``route.CAPS["kmeans_pool_bytes"]``) train all m subspaces in ONE
    numpy task with ONE unioned init-plan collect — the per-subspace
    :func:`kmeans_train` chain paid ~8 scheduler jobs per subspace
    (checkpoint, count, init materialize+collect) for milliseconds of
    Lloyd math, 34 jobs total at m=4 (round-16 measurement).  Each
    subspace's init rows and float sequence are identical to the
    per-sub route (differential pytest pins them); big pools fall back
    to :func:`kmeans_train` per subspace on UNnormalized slices (PQ
    quantizes raw geometry; normalization is the caller's choice
    before training)."""
    if dim is None:
        dim = len(emb_df.select(vec_col).first()[0])
    step = dim // m
    vecs = emb_df.select(
        id_col,
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            vec_col
        ),
    ).localCheckpoint()
    n_pool = vecs.count()
    if n_pool and fits("kmeans_pool_bytes", n_pool * max(1, dim) * 8):
        init_df = None
        for s in range(m):
            sub = vecs.select(
                id_col,
                F.slice(F.col(vec_col), s * step + 1, step).alias(vec_col),
            )
            plan = (
                sub.orderBy(F.xxhash64(F.col(id_col), F.lit(seed + s)))
                .limit(k)
                .select(F.col(vec_col).alias("centroid"))
                .withColumn(
                    "centroid_id",
                    F.row_number().over(
                        Window.orderBy(F.xxhash64("centroid"))
                    ) - 1,
                )
                .select(
                    F.lit(s).alias("sub"), "centroid_id", "centroid"
                )
            )
            init_df = plan if init_df is None else init_df.unionAll(plan)
        inits: dict[int, list[tuple[int, list[float]]]] = {
            s: [] for s in range(m)
        }
        for r in init_df.collect():
            inits[r["sub"]].append((r["centroid_id"], list(r["centroid"])))
        for s in range(m):
            inits[s].sort(key=lambda t: t[0])
        return _pq_train_single_task(
            vecs, inits, m, step, max_iterations, vec_col
        ).localCheckpoint()
    books = None
    for s in range(m):
        lo = s * step + 1  # slice() is 1-based
        sub = emb_df.select(
            id_col, F.slice(F.col(vec_col), lo, step).alias(vec_col)
        )
        cb = kmeans_train(
            sub, k=k, max_iterations=max_iterations,
            id_col=id_col, vec_col=vec_col, seed=seed + s,
            normalize=False,
        ).select(F.lit(s).alias("sub"), "centroid_id", "centroid")
        books = cb if books is None else books.union(cb)
    return books.localCheckpoint()


def pq_encode(
    emb_df: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub, code) PQ codes: each subvector's nearest centroid id
    per codebook.  One explode to (id, sub, subvector), one broadcast
    join against the m×k codebook table, one min_by per (id, sub) —
    the encode shuffle carries subvectors once; at rest the codes
    table is m small ints per vector."""
    if dim is None:
        dim = len(emb_df.select(vec_col).first()[0])
    step = dim // m
    subs = emb_df.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("sub"),
                    F.slice(F.col(vec_col), s * step + 1, step).alias("sv"),
                )
                for s in range(m)
            ])
        ).alias("x"),
    ).select(id_col, F.col("x.sub").alias("sub"), F.col("x.sv").alias("sv"))
    scored = subs.join(F.broadcast(codebooks), "sub").select(
        id_col,
        "sub",
        F.struct(
            l2sq(F.col("sv"), F.col("centroid")).alias("dist"),
            F.col("centroid_id"),
        ).alias("_d"),
    )
    return (
        scored.groupBy(id_col, "sub")
        .agg(F.min("_d").alias("_best"))
        .select(id_col, "sub", F.col("_best.centroid_id").alias("code"))
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    query_vec: list,
    k: int = 10,
    m: int = 4,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query stays exact,
    each database vector is approximated by its per-subspace centroid.
    The m×k lookup table (query-to-centroid partial distances) is a
    TINY broadcast; scoring is one equi-join on (sub, code) + one sum
    per vector — the PQ codes table never rejoins the raw vectors, so
    a 100 TB corpus scans 2-byte codes, not embeddings."""
    dim = len(query_vec)
    step = dim // m
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    lut = codebooks.select(
        "sub",
        F.col("centroid_id").alias("code"),
        l2sq(
            F.slice(q, F.col("sub") * step + 1, step), F.col("centroid")
        ).alias("pdist"),
    )
    return (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sum("pdist"), 6).alias("adist"))
        .orderBy(F.col("adist").asc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_arrow(
    emb_df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-vectorized twin of :func:`cosine_topk`: scoring runs in a
    pandas UDF over numpy (one matrix-vector product per Arrow batch)
    instead of the JVM zip_with/aggregate fold.

    Same results to float tolerance (parity-tested); wins only when d
    reaches the thousands — per-batch ``np.dot`` amortizes Python
    transfer overhead that the JVM expression never pays at small d.
    The top-k remains TakeOrderedAndProject on the scored column."""
    from pyspark.sql.functions import pandas_udf

    q = emb_df.filter(F.col(id_col) == query_id).first()[vec_col]
    qv = np.asarray(q, dtype=np.float64)
    qn = float(np.sqrt(qv @ qv))

    @pandas_udf("double")
    def score(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)))
        sims = (m @ qv) / (np.sqrt((m * m).sum(axis=1)) * qn)
        return pd.Series(np.round(sims, 4))

    return (
        emb_df.filter(F.col(id_col) != query_id)
        .select(id_col, score(F.col(vec_col)).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


# --- int8 scalar quantization (SQ8, round 13) ------------------------
#
# The memory-bound ANN workhorse between full-precision brute force
# and PQ: each float32 dimension compresses to ONE signed byte under
# a per-dimension symmetric scale (q = round(127 * x / max|x_d|)), a
# 4x footprint cut that usually costs <1% similarity mass.  At 100 TB
# the quantized corpus + the per-dimension scale vector are what fits
# in executor memory; scoring stays JVM-side whole-stage-codegen
# (zip_with products + one fold), no Python in the hot path.


def sq8_train(
    emb_df: DataFrame, vec_col: str = "embedding"
) -> list[float]:
    """Per-dimension symmetric scales ``max|x_d|`` over the corpus:
    posexplode to (dim, |x|) then a per-dim MAX — partial aggregates
    map-side, the shuffle carries d·partitions rows, and the driver
    receives exactly d scalars (the model is dimension-sized, never
    corpus-sized; a collect_list fold would ship the corpus to one
    task)."""
    rows = (
        emb_df.select(F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x").cast("double"))).alias("s"))
        .collect()
    )
    scales = [1.0] * len(rows)
    for r in rows:
        scales[int(r.pos)] = float(r.s) if r.s else 1.0
    return scales


def sq8_encode(
    emb_df: DataFrame,
    scales: list[float],
    vec_col: str = "embedding",
    code_col: str = "sq8",
) -> DataFrame:
    """Quantize ``vec_col`` to ``array<int>`` codes in [-127, 127]
    under the per-dimension symmetric scales (zero-scale dimensions
    encode 0).  Pure codegen: one zip_with against the broadcast
    scale literal."""
    sarr = F.array(*[F.lit(s if s > 0 else 1.0) for s in scales])
    return emb_df.withColumn(
        code_col,
        F.zip_with(
            F.col(vec_col), sarr,
            lambda x, s: F.round(127.0 * x.cast("double") / s, 0)
            .cast("int"),
        ),
    )


def sq8_topk(
    emb_df: DataFrame,
    scales: list[float],
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k over SQ8 codes: the asymmetric-style
    dot ``Σ q_x[d]·q_y[d]·scale_d²/127²`` and the quantized norms,
    all folded JVM-side in array order (bitwise reproducible).  The
    query is ONE broadcast literal; the scan is the quantized corpus
    only — the full-precision vectors never participate, which is the
    point of the 4x compression.  Returns (id, sim) with the
    quantized cosine rounded to 4 dp."""
    enc = sq8_encode(emb_df, scales, vec_col=vec_col)
    qrow = enc.filter(F.col(id_col) == query_id).select("sq8").first()
    if qrow is None:
        return enc.select(F.col(id_col),
                          F.lit(0.0).alias("sim")).limit(0)
    qcode = [int(v) for v in qrow.sq8]
    w = [(s if s > 0 else 1.0) ** 2 / (127.0 * 127.0) for s in scales]
    qarr = F.array(*[F.lit(float(q * wd)) for q, wd in zip(qcode, w)])
    warr = F.array(*[F.lit(float(wd)) for wd in w])
    code = F.col("sq8")
    dotqx = F.aggregate(
        F.zip_with(code, qarr, lambda x, qw: x.cast("double") * qw),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    xx = F.aggregate(
        F.zip_with(code, warr,
                   lambda x, wd: x.cast("double") * x.cast("double") * wd),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    qq = float(sum(q * q * wd for q, wd in zip(qcode, w)))
    return (
        enc.filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col),
            F.round(dotqx / (F.sqrt(xx) * F.lit(qq ** 0.5)), 4)
            .alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


# --- 1-bit binary quantization (BQ, round 13) -------------------------
#
# The bottom rung of the compression ladder (below SQ8's 4x and PQ's
# 16x): keep ONLY the sign of every dimension, packed 32 dims per
# long — a 32x footprint cut vs float32.  Hamming distance between
# sign patterns is a monotone proxy for angular similarity
# (sim ≈ cos(π·ham/d), the classic SimHash/LSH bound; RaBitQ-class
# systems refine the same idea), so the scan phase is pure
# XOR+popcount whole-stage codegen over packed longs, and a small
# exact rerank restores true cosine order.  At 100 TB the packed
# codes are what stays resident; 32 dims/long (not 64) keeps every
# partial sum far from long overflow and the Python/JVM packing laws
# trivially identical.


def bq_encode(
    emb_df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    code_col: str = "bq",
) -> DataFrame:
    """Pack sign bits (x > 0) into ``ceil(dim/32)`` longs, array
    order = dimension order, MSB-first within a block.  Pure codegen:
    one slice+aggregate fold per block, no Python."""
    blocks = []
    for j in range(0, dim, 32):
        ln = min(32, dim - j)
        blocks.append(
            F.aggregate(
                F.slice(F.col(vec_col), j + 1, ln),
                F.lit(0).cast("long"),
                lambda acc, x: acc * 2
                + F.when(x > 0, F.lit(1)).otherwise(F.lit(0)),
            )
        )
    return emb_df.withColumn(code_col, F.array(*blocks))


def _bq_pack_py(vec, dim: int) -> list[int]:
    """The same packing law, driver-side, for the one query vector."""
    out = []
    for j in range(0, dim, 32):
        acc = 0
        for x in vec[j:j + 32]:
            acc = acc * 2 + (1 if float(x) > 0 else 0)
        out.append(acc)
    return out


def bq_topk(
    emb_df: DataFrame,
    dim: int,
    query_id: int,
    k: int = 10,
    candidates: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via sign-bit Hamming scan + exact
    rerank: score every packed code with XOR+popcount against the ONE
    broadcast query code (cheapest possible scan — two long ops per
    32 dims), keep the ``candidates`` Hamming-nearest, then rerank
    JUST those with the exact full-precision cosine.  Returns (id,
    sim) with sim = the EXACT cosine (rounded 4 dp), so a candidate
    set that contains the true top-k reproduces the brute-force
    answer bit-for-bit — the recall knob is ``candidates``, not a
    similarity approximation."""
    qrow = emb_df.filter(F.col(id_col) == query_id).first()
    if qrow is None:
        return emb_df.select(F.col(id_col),
                             F.lit(0.0).alias("sim")).limit(0)
    qvec = [float(v) for v in qrow[vec_col]]
    qcode = _bq_pack_py(qvec, dim)
    enc = bq_encode(emb_df, dim, vec_col=vec_col)
    qarr = F.array(*[F.lit(int(c)).cast("long") for c in qcode])
    ham = F.aggregate(
        F.zip_with(F.col("bq"), qarr,
                   lambda a, b: F.bit_count(a.bitwiseXOR(b)).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    qlit = F.array(*[F.lit(v) for v in qvec])
    cand = (
        enc.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), F.col(vec_col), ham.alias("__ham"))
        .orderBy(F.col("__ham"), F.col(id_col))
        .limit(candidates)
    )
    return (
        cand.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), qlit), 4).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )


# --- distributed covariance + driver-side PCA (round 13) --------------


def covariance_gram(emb_df: DataFrame, dim: int,
                    vec_col: str = "embedding"):
    """Exact covariance of a vector column via PER-PARTITION GRAM
    PARTIALS: each Arrow batch folds into one ``(n, Σx, XᵀX)``
    accumulator per input partition (a BLAS matmul per batch — the
    compute-optimal kernel), so the shuffle-free reduce ships ONE row
    of d + d² doubles per partition.  The ``.collect()`` is bounded
    at the partition count (~32 rows × ~33 KB at d=64) — the model is
    dimension²-sized, never corpus-sized, the same envelope class as
    the t-digest centroid union.  Returns ``(n, mean, cov)`` with
    cov = E[xxᵀ] − μμᵀ (population), or ``(0, None, None)`` on an
    empty corpus."""
    import numpy as np

    def batches(it):
        keep_large_allocs_on_heap()
        n = 0
        s1 = np.zeros(dim, dtype=np.float64)
        s2 = np.zeros((dim, dim), dtype=np.float64)
        for pdf in it:
            if len(pdf):
                X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                n += X.shape[0]
                s1 += X.sum(axis=0)
                s2 += X.T @ X
        yield pd.DataFrame({
            "n": pd.Series([n], dtype="int64"),
            "s1": [s1.tolist()],
            "s2": [s2.ravel().tolist()],
        })

    parts = emb_df.select(vec_col).mapInPandas(
        batches, "n long, s1 array<double>, s2 array<double>")
    rows = parts.collect()  # one row per partition, by construction
    n = sum(int(r.n) for r in rows)
    if n == 0:
        return 0, None, None
    s1 = np.zeros(dim)
    s2 = np.zeros((dim, dim))
    for r in rows:
        s1 += np.asarray(r.s1)
        s2 += np.asarray(r.s2).reshape(dim, dim)
    mean = s1 / n
    cov = s2 / n - np.outer(mean, mean)
    return n, mean, cov


def pca_eigh(cov):
    """Eigendecomposition of the d×d covariance on the driver
    (symmetric → ``eigh``), eigenvalues sorted DESCENDING with their
    vectors — the right split of labor at 100 TB: the distributed
    pass is one Gram scan, the O(d³) eigensolve on a 64×64 matrix is
    microseconds anywhere."""
    import numpy as np

    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1]
    return w[order], v[:, order]


# --- graph ANN: navigable-small-world beam search (round 16) ----------


def _nsw_build(X: "np.ndarray", m: int, ef_c: int):
    """Insertion-order NSW graph over unit-normalized rows of ``X``.

    Node ``i`` is inserted by beam-searching its own vector through
    the graph of nodes ``0..i-1`` (ef = ``ef_c``), linking to the
    ``m`` most-similar found, bidirectionally; a node whose reverse
    degree exceeds ``2*m`` keeps its ``2*m`` most-similar neighbors
    (the HNSW M_max0 rule).  Deterministic for a fixed row order —
    callers sort by id first.  This is the single-layer core of HNSW
    (Malkov & Yashunin 2016); the hierarchy only changes the entry
    point, not the search semantics, and at shard scale (10^5-10^6
    rows per partition) a layer-0 graph with a fixed entry is within
    a few percent of full HNSW recall."""
    n = X.shape[0]
    adj: list[list[int]] = [[] for _ in range(n)]
    for i in range(1, n):
        found = _nsw_beam(X, adj, 0, X[i], max(ef_c, m), limit=i)
        found.sort(reverse=True)
        for _, j in found[:m]:
            adj[i].append(j)
            adj[j].append(i)
            if len(adj[j]) > 2 * m:
                sims = [(float(X[v] @ X[j]), v) for v in adj[j]]
                sims.sort(reverse=True)
                adj[j] = [v for _, v in sims[: 2 * m]]
    return adj


def _nsw_beam(X, adj, entry: int, qv, ef: int, limit: int | None = None):
    """Greedy best-first beam over the NSW graph: expand the most
    similar unvisited candidate; stop when the best frontier
    candidate is worse than the worst of the ``ef`` best found (the
    HNSW SEARCH-LAYER loop).  ``limit`` restricts to nodes < limit
    (used during insertion).  Returns ``[(sim, idx), ...]``
    unsorted."""
    import heapq

    visited = {entry}
    d0 = float(X[entry] @ qv)
    frontier = [(-d0, entry)]
    best = [(d0, entry)]
    while frontier:
        nd, u = heapq.heappop(frontier)
        if len(best) >= ef and -nd < best[0][0]:
            break
        for v in adj[u]:
            if v in visited or (limit is not None and v >= limit):
                continue
            visited.add(v)
            dv = float(X[v] @ qv)
            if len(best) < ef or dv > best[0][0]:
                heapq.heappush(frontier, (-dv, v))
                heapq.heappush(best, (dv, v))
                if len(best) > ef:
                    heapq.heappop(best)
    return best


def nsw_topk(
    emb_df: DataFrame,
    query_id: int,
    k: int = 10,
    m: int = 8,
    ef_construction: int = 48,
    ef_search: int = 48,
    shards: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Graph-ANN top-k: the sharded-DiskANN dataflow.  The corpus is
    hash-partitioned into ``shards`` independent shards; EACH shard
    builds a navigable-small-world graph over its own vectors inside
    one Arrow ``mapInPandas`` task (insertion order = sorted id, so
    the build is deterministic) and beam-searches the broadcast query
    with ``ef_search``, emitting its local candidates with EXACT
    full-precision cosine; the global answer is the TakeOrdered merge
    of per-shard candidates.  Per query the work is
    O(shards * ef * log n) distance evaluations instead of O(N) — the
    recall-at-low-latency point-lookup shape IVF/PQ don't give — and
    shards scale out horizontally at 100 TB (graphs build once per
    shard in practice; rebuilding per query here keeps the operator
    self-contained at fixture scale).  Recall knobs: ``m``,
    ``ef_construction``, ``ef_search``."""
    qrow = emb_df.filter(F.col(id_col) == query_id).first()
    if qrow is None:
        return emb_df.select(
            F.col(id_col), F.lit(0.0).alias("sim")
        ).limit(0)
    qv = np.asarray([float(v) for v in qrow[vec_col]], dtype=np.float64)
    qn = float(np.sqrt(qv @ qv))
    qu = qv / qn if qn > 0 else qv

    def part(it):
        keep_large_allocs_on_heap()
        ids_all, vecs_all = [], []
        for pdf in it:
            if len(pdf):
                ids_all.append(pdf[id_col].to_numpy())
                vecs_all.append(
                    np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                )
        if not ids_all:
            return
        ids = np.concatenate(ids_all)
        X = np.concatenate(vecs_all)
        order = np.argsort(ids, kind="stable")
        ids, X = ids[order], X[order]
        norms = np.sqrt((X * X).sum(axis=1))
        norms[norms == 0] = 1.0
        Xu = X / norms[:, None]
        if len(ids) <= max(ef_search, k):
            sims = Xu @ qu  # degenerate shard: exhaustive
            top = np.argsort(-sims, kind="stable")[:k]
            found = [(float(sims[i]), int(i)) for i in top]
        else:
            adj = _nsw_build(Xu, m, ef_construction)
            found = _nsw_beam(Xu, adj, 0, qu, max(ef_search, k))
            found = sorted(found, reverse=True)[:k]
        yield pd.DataFrame(
            {
                id_col: pd.Series(
                    [int(ids[i]) for _, i in found], dtype="int64"
                ),
                "sim": pd.Series(
                    [round(s, 4) for s, _ in found], dtype="float64"
                ),
            }
        )

    cand = (
        emb_df.filter(F.col(id_col) != query_id)
        .select(id_col, vec_col)
        .repartition(shards, F.col(id_col))
        .mapInPandas(part, f"{id_col} long, sim double")
    )
    return cand.orderBy(F.col("sim").desc(), F.col(id_col)).limit(k)


def mmr_greedy(ids, Xn, rel, lam: float, k: int) -> list[int]:
    """Greedy Maximal-Marginal-Relevance selection (Carbonell &
    Goldstein 1998) over a shortlist: repeatedly pick the id
    maximizing lam*rel(i) - (1-lam)*max_{s in S} cos(i, s), ties
    broken by lowest id (total order — the receipts in
    mmr_diversify_rerank_verified re-check each step distributedly).
    ``Xn`` rows must be unit-normalized, aligned with ``ids``."""
    pos = {i: p for p, i in enumerate(ids)}
    sel: list[int] = []
    while len(sel) < min(k, len(ids)):
        best, best_obj = None, None
        for i in ids:
            if i in sel:
                continue
            pen = max((float(Xn[pos[i]] @ Xn[pos[s]]) for s in sel),
                      default=0.0)
            obj = lam * rel[i] - (1 - lam) * pen
            if best_obj is None or obj > best_obj + 1e-12 or (
                    abs(obj - best_obj) <= 1e-12 and i < best):
                best, best_obj = i, obj
        sel.append(best)
    return sel


# --- Johnson-Lindenstrauss random projection (round 16) ---------------
#
# The sketch tier BETWEEN full precision and the quantizers: project
# d=64 floats to out_dim doubles with a deterministic Rademacher (+-1)
# matrix (Achlioptas 2003 — database-friendly random projections,
# public), preserving pairwise inner products in expectation.  Unlike
# SQ8/PQ/BQ (which compress per-dimension PRECISION), JL compresses
# DIMENSIONALITY, so downstream scans cost out_dim/d of the full
# scan's FLOPs regardless of value distribution.  The sign matrix
# derives from a fixed LCG, materialized as out_dim literal arrays —
# both the projection and the scoring stay inside JVM higher-order
# functions; nothing row-wise touches Python.


def _jl_signs(in_dim: int, out_dim: int) -> list[list[float]]:
    """Deterministic Rademacher sign matrix via a fixed LCG."""
    signs = []
    state = 0x5DEECE66D
    for j in range(out_dim):
        row = []
        for _ in range(in_dim):
            state = (state * 6364136223846793005 + 1442695040888963407) \
                % (1 << 64)
            row.append(1.0 if (state >> 33) & 1 == 0 else -1.0)
        signs.append(row)
    return signs


def jl_project(vec, in_dim: int = 64, out_dim: int = 16) -> Column:
    """Column expression: ``vec`` (array<float>, len in_dim) projected
    to array<double> of len out_dim; proj[j] = Σ_i v[i]·s[j][i]
    (the 1/sqrt(out_dim) scale cancels in cosine and is omitted)."""
    signs = _jl_signs(in_dim, out_dim)
    return F.array(*[
        F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(s) for s in signs[j]]),
                       lambda v, s: v.cast("double") * s),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        for j in range(out_dim)
    ])


def jl_topk(
    emb_df: DataFrame,
    query_id: int,
    k: int = 10,
    out_dim: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k scored ENTIRELY in the projected
    space: corpus and query are both JL-projected, then ranked by
    projected cosine with (sim DESC, id) tie-break.  The projected
    corpus is what stays resident at 100 TB (out_dim/in_dim of the
    footprint); the exact vectors participate only in a downstream
    rerank/verify stage, mirroring the SQ8/PQ/BQ rung contract."""
    proj = emb_df.select(id_col, jl_project(
        F.col(vec_col), in_dim, out_dim).alias("jp"))
    q = (proj.filter(F.col(id_col) == query_id)
         .select(F.col("jp").alias("qp")))
    dotpq = F.aggregate(
        F.zip_with("jp", "qp", lambda x, y: x * y),
        F.lit(0.0), lambda acc, x: acc + x)
    nn = F.aggregate(
        F.transform("jp", lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x)
    qq = F.aggregate(
        F.transform("qp", lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x)
    return (
        proj.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(id_col,
                F.round(dotpq / (F.sqrt(nn) * F.sqrt(qq)), 4).alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col))
        .limit(k)
    )
