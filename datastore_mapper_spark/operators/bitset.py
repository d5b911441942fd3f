"""Blocked all-pair set-intersection via gid-set matrices + BLAS.

The shared-shingle inverted-index join (dedup_bigram_jaccard /
dedup_drop_contained's candidate step) costs Σ_g df(g)² join rows.  On
a duplicate-heavy, SMALL-VOCABULARY corpus the index degenerates: at
sf0.1 the fixture has 931 distinct bigrams over 5 000 docs, Σ df² =
73 M join rows, and 82 % of ALL doc pairs share a shingle — the
"near-linear candidate join" assumption is simply false, and every
formulation that enumerates per-shingle pairs (string join, int-coded
join, prefix filter) measured 20-40 s.  The oracle's answer is
intrinsically ~quadratic here, so the cheapest EXACT plan is the one
with the lowest constant per pair:

1. dictionary-encode the per-doc sets (vocabulary-sized, broadcast),
2. collect each doc's set as a dense gid array (r16: the former
   ⌈V/64⌉-long SQL bit-packing fold was O(|set|·V/64) interpreted
   lambda steps per doc, and the kernel unpacked it right back —
   both halves of that round-trip are gone),
3. block docs into B id-buckets and replicate each doc to its
   B bucket-pairs (two broadcast equi-joins — no BNLJ, no shuffle of
   pair rows), and
4. per bucket-pair, scatter the gid arrays into 0/1 float32 matrices
   and compute ALL pairwise intersection counts with one numpy
   matrix multiply — binary matmul counts are integer-exact in
   float32 up to 2²⁴ — and emit only the pairs a caller-supplied
   predicate keeps (Arrow carries survivors, never the quadratic
   stream).

All fractional math (Jaccard, rounding) stays in Spark SQL on the
emitted integer counts, so oracle float semantics are untouched.

When to use which plan: this kernel wins when V bits fit comfortably
per doc (V up to ~10⁵) AND the candidate index degenerates toward
all-pairs (Σ df² ≈ n̄·n²); with a healthy vocabulary the inverted
index / MinHash-LSH path (operators/dedup.py) stays subquadratic and
wins.  Both are exact-or-superset candidate generators feeding the
same exact verify, so the choice is pure cost-based routing on two
cheap corpus statistics (V, Σ df²).  At 100 TB the bucketing is the
unit of distribution: each bucket-pair task is O((n/B)²·V/64) with
O((n/B)·V/64) memory, so B scales with the cluster.
"""

from __future__ import annotations

from ._alloc import keep_large_allocs_on_heap
from .route import fits
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: id buckets of :func:`blocked_pair_survivors`: each doc meets the
#: rest of the corpus in ``_BUCKETS`` bucket-pair groups
_BUCKETS = 8


def kernel_fits(n_docs: int, n_bits: int) -> bool:
    """Cost-based router for :func:`blocked_pair_survivors`: the kernel
    is the right plan only while (a) one bucket-pair's unpacked 0/1
    matrices fit in a task's memory — (2n/B)·V·4 bytes per side, cap
    ``bitset_group_bytes`` — and (b) the total matmul work n²·V stays
    under cap ``bitset_flops`` (both in ``route.CAPS``).  Outside that
    envelope the inverted-index / MinHash-LSH candidate paths
    (operators/dedup.py) win; the two cheap statistics every corpus
    has (doc count, vocabulary size) decide the route, measured in
    scripts/dedup_crossover.py."""
    width = max(64, n_bits)
    group_rows = max(1, (2 * n_docs) // _BUCKETS)
    return (fits("bitset_group_bytes", group_rows * width * 4)
            and fits("bitset_flops", n_docs * n_docs * width))


def dictionary_ids(values: DataFrame, col: str) -> DataFrame:
    """Dense 0-based ids for the distinct values of ``col`` — the
    dictionary is vocabulary-sized (broadcast tier).  The single-
    partition window is deliberate: the dictionary is tiny by the
    routing precondition above.

    Materialized via ``localCheckpoint``: every caller evaluates the
    dictionary at least twice (a ``count()`` for the kernel router,
    then a broadcast-join build), and without the checkpoint each
    evaluation re-runs the corpus-wide explode + distinct feeding it
    — the dominant repeated scan in the bitset-kernel queries
    (guide §1.2: don't compute things twice)."""
    return values.select(col).distinct().withColumn(
        "gid", (F.row_number().over(Window.orderBy(col)) - 1)
    ).localCheckpoint()


def gid_sets(pairs: DataFrame, id_col: str, gid_col: str,
             out_col: str) -> DataFrame:
    """(id, <out_col> array<int>, <out_col>_sz) — each id's set of
    gids as a dense-id array, the row form
    :func:`blocked_pair_survivors` consumes.

    r16: the kernel used to take :func:`packed_bitset` words — an
    O(|set| · V/64) interpreted SQL fold per doc — and immediately
    UNPACK them back into a 0/1 matrix (guide §4.1: the pack/unpack
    round-trip was pure overhead, ~1.6 s per mask at sf0.1).  The
    kernel now scatters the gid array into its matrix directly, so
    the only per-doc work left is the ``collect_set`` itself.
    :func:`packed_bitset` remains for the SQL ``bit_count`` join path
    (operators/dedup.neardup_jaccard_prefix), which genuinely wants
    fixed-width words inside a JVM expression."""
    return (
        pairs.groupBy(id_col)
        .agg(F.collect_set(gid_col).alias("_gids"))
        .select(
            id_col,
            F.col("_gids").cast("array<int>").alias(out_col),
            F.size("_gids").cast("long").alias(f"{out_col}_sz"),
        )
    )


def packed_bitset(pairs: DataFrame, id_col: str, gid_col: str,
                  n_bits: int, out_col: str) -> DataFrame:
    """(id, <out_col> array<long>, <out_col>_sz) — each id's set of
    gids packed into ⌈n_bits/64⌉ longs (bit g of word g DIV 64).
    Used where the intersection is evaluated in SQL via
    ``bit_count(a & b)`` inside a join stage; kernel callers use
    :func:`gid_sets` instead (no pack/unpack round-trip)."""
    n_words = max(1, (n_bits + 63) // 64)
    return (
        pairs.groupBy(id_col)
        .agg(F.collect_set(gid_col).alias("_gids"))
        .select(
            id_col,
            F.expr(
                f"aggregate(_gids, array_repeat(0L, {n_words}), "
                "(acc, g) -> transform(acc, (x, i) -> "
                "IF(i = CAST(g DIV 64 AS INT), "
                "x | shiftleft(1L, CAST(g % 64 AS INT)), x)))"
            ).alias(out_col),
            F.size("_gids").cast("long").alias(f"{out_col}_sz"),
        )
    )


def blocked_pair_survivors(
    spark,
    docs: DataFrame,
    id_col: str,
    mask_cols: list[str],
    predicate,
) -> DataFrame:
    """All unordered doc pairs, intersection-counted per mask column,
    filtered by ``predicate`` inside the kernel.

    ``docs``: one row per doc with ``id_col``, and for each name m in
    ``mask_cols`` an ``array<int>`` gid-set column m plus a ``m_sz``
    long.
    ``predicate(inter, sz1, sz2, least, greatest)``: dicts of numpy
    arrays keyed by mask name, and ``np.minimum`` / ``np.maximum`` ->
    boolean keep-mask over the pair axis.  Returns
    (d1, d2, <m>_inter..., <m>_sz1..., <m>_sz2...) with d1 < d2 —
    integer columns only; compute ratios downstream in SQL."""
    import numpy as np
    import pandas as pd

    B = _BUCKETS
    mask_names = list(mask_cols)

    bucketed = docs.withColumn(
        "_bk", F.pmod(F.col(id_col), F.lit(B)).cast("int")
    )
    bp = spark.range(B).select(
        F.col("id").cast("int").alias("b1"),
        F.explode(F.expr(f"sequence(CAST(id AS INT), {B - 1})")).alias("b2"),
    )
    side_a = bucketed.join(
        F.broadcast(bp), bucketed["_bk"] == bp["b1"]
    ).withColumn("_side", F.lit(0))
    side_b = (
        bucketed.join(F.broadcast(bp), bucketed["_bk"] == bp["b2"])
        .filter(F.col("b1") != F.col("b2"))
        .withColumn("_side", F.lit(1))
    )
    cols = (
        ["b1", "b2", "_side", id_col]
        + mask_names
        + [f"{m}_sz" for m in mask_names]
    )
    stream = side_a.select(cols).unionByName(side_b.select(cols))

    out_fields = ["d1 long", "d2 long"]
    for m in mask_names:
        out_fields += [f"{m}_inter long", f"{m}_sz1 long", f"{m}_sz2 long"]
    out_schema = ", ".join(out_fields)
    empty = pd.DataFrame(
        {f.split()[0]: pd.Series(dtype="int64") for f in out_fields}
    )

    def to_matrix(series, v: int) -> "np.ndarray":
        # array<int> gid-set column -> (n, v) 0/1 float32 matrix by
        # flat scatter: O(Σ|set|) instead of the old pack-then-
        # unpackbits round-trip (each gid touches one cell once)
        n = len(series)
        lens = np.fromiter((len(x) for x in series),
                           dtype=np.int64, count=n)
        m = np.zeros((n, v), dtype=np.float32)
        if lens.sum():
            flat = np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in series])
            m[np.repeat(np.arange(n), lens), flat] = 1.0
        return m

    def group_v(a_series, b_series) -> int:
        # shared matrix width for one bucket-pair: group-local max gid
        # + 1 (a gid absent from the whole group cannot intersect)
        v = 0
        for s in (a_series, b_series):
            for x in s:
                if len(x):
                    mx = max(x)
                    if mx >= v:
                        v = mx + 1
        return max(1, v)

    def kernel(key, pdf):
        keep_large_allocs_on_heap()
        b1, b2 = int(key[0]), int(key[1])
        a = pdf[pdf["_side"] == 0]
        b = a if b1 == b2 else pdf[pdf["_side"] == 1]
        if len(a) == 0 or len(b) == 0:
            return empty
        ids_a = a[id_col].to_numpy()
        ids_b = b[id_col].to_numpy()
        inter = {}
        sz1 = {}
        sz2 = {}
        for m in mask_names:
            v = group_v(a[m], b[m]) if b1 != b2 else group_v(a[m], ())
            ma = to_matrix(a[m], v)
            mb = ma if b1 == b2 else to_matrix(b[m], v)
            # binary matmul = exact pairwise intersection counts
            inter[m] = (ma @ mb.T).astype(np.int64)
            sa = a[f"{m}_sz"].to_numpy()
            sb = b[f"{m}_sz"].to_numpy()
            sz1[m] = np.broadcast_to(sa[:, None], inter[m].shape)
            sz2[m] = np.broadcast_to(sb[None, :], inter[m].shape)
        keep = predicate(inter, sz1, sz2, np.minimum, np.maximum)
        if b1 == b2:  # upper triangle only: each unordered pair once
            keep = keep & (ids_a[:, None] < ids_b[None, :])
        ii, jj = np.nonzero(keep)
        if len(ii) == 0:
            return empty
        da, db = ids_a[ii], ids_b[jj]
        out = {
            "d1": np.minimum(da, db),
            "d2": np.maximum(da, db),
        }
        for m in mask_names:
            out[f"{m}_inter"] = inter[m][ii, jj]
            # sz1/sz2 follow the (d1, d2) = (min, max) id order
            swap = da > db
            s1 = np.where(swap, sz2[m][ii, jj], sz1[m][ii, jj])
            s2 = np.where(swap, sz1[m][ii, jj], sz2[m][ii, jj])
            out[f"{m}_sz1"] = s1
            out[f"{m}_sz2"] = s2
        return pd.DataFrame(out)

    return stream.groupBy("b1", "b2").applyInPandas(kernel, out_schema)


def indexed_pair_intersections(
    long_by_mask: dict[str, DataFrame],
    id_col: str,
    candidate_mask: str,
) -> DataFrame:
    """Inverted-index twin of :func:`blocked_pair_survivors` — the
    route :func:`kernel_fits` picks when the corpus is big or the
    vocabulary healthy, where unpacking (n/B)·V float32 matrices per
    Arrow group would blow the task envelope (round-9 ADVICE: the
    kernel must never run unconditionally).

    ``long_by_mask``: mask name -> DISTINCT long-form (id_col, gid)
    membership.  Candidate pairs share ≥1 element of
    ``candidate_mask``; each mask's pairwise intersection count is a
    shared-element index join (cost Σ_g df(g)² — near-linear by the
    routing precondition), merged onto the candidates with missing
    counts as 0.  Output schema matches the kernel exactly —
    (d1, d2, <m>_inter, <m>_sz1, <m>_sz2, d1 < d2) — EXCEPT that no
    predicate has been applied: :func:`pair_survivors` applies the
    same ``keep`` to these columns.
    """
    masks = dict(long_by_mask)

    def pair_counts(long_df: DataFrame, out: str) -> DataFrame:
        a = long_df.select(F.col(id_col).alias("d1"), "gid")
        b = long_df.select(F.col(id_col).alias("d2"), "gid")
        return (
            a.join(b, "gid")
            .filter(F.col("d1") < F.col("d2"))
            .groupBy("d1", "d2")
            .agg(F.count("*").cast("long").alias(out))
        )

    cand = pair_counts(masks[candidate_mask], f"{candidate_mask}_inter")
    for m, long_df in masks.items():
        if m != candidate_mask:
            cand = cand.join(pair_counts(long_df, f"{m}_inter"),
                             ["d1", "d2"], "left")
        sizes = long_df.groupBy(id_col).agg(
            F.count("*").cast("long").alias(f"{m}_sz")
        )
        cand = (
            cand.join(
                sizes.select(F.col(id_col).alias("d1"),
                             F.col(f"{m}_sz").alias(f"{m}_sz1")),
                "d1",
            )
            .join(
                sizes.select(F.col(id_col).alias("d2"),
                             F.col(f"{m}_sz").alias(f"{m}_sz2")),
                "d2",
            )
            .withColumn(f"{m}_inter",
                        F.coalesce(F.col(f"{m}_inter"), F.lit(0)))
        )
    ordered = ["d1", "d2"]
    for m in masks:
        ordered += [f"{m}_inter", f"{m}_sz1", f"{m}_sz2"]
    return cand.select(ordered)


def pair_survivors(
    longs: dict[str, DataFrame],
    id_col: str,
    cand: str,
    keep,
    n_docs: int,
    n_bits: int,
) -> DataFrame:
    """Id pairs sharing >= 1 element of mask ``cand`` that pass
    ``keep``, on the route :func:`kernel_fits` picks for ``n_docs``
    ids over ``n_bits`` dictionary ids (the caller's cheap counts: a
    parquet-metadata row count and the checkpointed dictionaries').

    ``longs``: mask name -> DISTINCT (id_col, gid) membership, gids
    from :func:`dictionary_ids`.  ``keep(inter, sz1, sz2, least,
    greatest)`` is written once for both routes: dicts keyed by mask
    name of numpy arrays with ``np.minimum`` / ``np.maximum`` inside
    the blocked kernel, of ``Column``s with ``F.least`` /
    ``F.greatest`` after the index join — so it may use only the
    operators both share: comparisons, ``&``, ``+``, ``-``, ``*`` (not
    ``/``, ``and``, ``or``).
    Output: (d1, d2, <m>_inter, <m>_sz1, <m>_sz2 ...), d1 < d2."""
    masks = list(longs)
    if kernel_fits(n_docs, n_bits):
        docs = gid_sets(longs[masks[0]], id_col, "gid", masks[0])
        for m in masks[1:]:
            docs = docs.join(gid_sets(longs[m], id_col, "gid", m), id_col)

        def predicate(inter, sz1, sz2, least, greatest):
            return ((inter[cand] >= 1)
                    & keep(inter, sz1, sz2, least, greatest))

        return blocked_pair_survivors(
            docs.sparkSession, docs, id_col, masks, predicate)
    cols = {k: {m: F.col(f"{m}_{k}") for m in masks}
            for k in ("inter", "sz1", "sz2")}
    return indexed_pair_intersections(longs, id_col, cand).filter(
        keep(cols["inter"], cols["sz1"], cols["sz2"], F.least, F.greatest))
