"""Byte-pair-encoding (BPE) vocabulary training over the corpus —
the tokenizer-construction stage of an LLM data pipeline, expressed
Spark-first.

The classic scale trick makes this tractable at 100 TB: BPE statistics
are computed over the WORD-FREQUENCY table, not the raw corpus — a
word appearing 10^9 times contributes one row with weight 10^9, so
every training iteration runs over |vocab| rows (millions) regardless
of corpus bytes.  Pair counting is pure JVM expression work
(explode + groupBy with map-side partials); the greedy left-to-right
merge application — inherently sequential WITHIN a word, trivially
parallel ACROSS words — runs as an Arrow-batched pandas UDF over the
vocab-sized table.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import table
from ..operators.route import fits, single_task
from ..registry import query


def word_frequencies(spark, sf_dir) -> DataFrame:
    """(word, freq) over documents — the compressed corpus every BPE
    statistic is computed from."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )


@query(
    "bpe_pair_counts",
    "LLM-pipeline/tokenizer",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), wf AS (
        SELECT w, count(*) AS f FROM words WHERE len(w) >= 2 GROUP BY w
    ), pairs AS (
        SELECT substr(w, CAST(i AS INT), 1) AS a,
               substr(w, CAST(i AS INT) + 1, 1) AS b,
               f
        FROM wf, unnest(range(1, len(w))) AS t(i)
    )
    SELECT a, b, CAST(sum(f) AS BIGINT) AS cnt
    FROM pairs
    GROUP BY a, b
    ORDER BY cnt DESC, a, b
    LIMIT 50
    """,
)
def bpe_pair_counts(spark, sf_dir):
    """The first BPE statistic: corpus-weighted adjacent character-pair
    counts (top 50, total tie-break) — iteration 0 of vocabulary
    training, and the exact aggregation every later iteration repeats
    over the evolving symbol sequences.

    Scale shape: the corpus collapses to the word-frequency table
    FIRST (one shuffle on the word), so the pair explosion fans out
    |vocab| x avg_word_len rows — independent of corpus size — and
    the pair groupBy partial-aggregates map-side into at most
    |alphabet|² cells per partition.  All symbol slicing is JVM
    ``substring``/``sequence`` expressions; no Python in this path."""
    wf = word_frequencies(spark, sf_dir)
    pairs = wf.select(
        "f",
        F.explode(
            F.expr("sequence(1, length(w) - 1)")
        ).alias("i"),
        "w",
    ).select(
        F.expr("substring(w, i, 1)").alias("a"),
        F.expr("substring(w, i + 1, 1)").alias("b"),
        "f",
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.sum("f").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "a", "b")
        .limit(50)
    )


def _merge_symbols(syms: list[str], a: str, b: str) -> list[str]:
    """Greedy left-to-right application of one merge (a, b) -> a+b —
    the standard BPE rule: 'aaa' under (a,a) becomes ['aa', 'a']."""
    out: list[str] = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _merge_udf(a: str, b: str):
    """Arrow-batched merge application for ONE learned pair — a
    factory so the loop in :func:`bpe_train` binds (a, b) by VALUE
    (a shared closure would late-bind to the last iteration's pair)."""

    @F.pandas_udf("array<string>")
    def apply_merge(col: pd.Series) -> pd.Series:
        return col.map(lambda s: _merge_symbols(list(s), a, b))

    return apply_merge


def _bpe_train_greedy(rows, n_merges: int):
    """The greedy BPE recursion over an in-memory (word, freq) list —
    the single-task kernel body.  Semantics identical to the
    distributed loop below: argmax pair by (count DESC, then
    lexicographic), greedy left-to-right merge application."""
    syms = [(list(w), int(f)) for w, f in rows]
    merges = []
    for rank in range(n_merges):
        cnt: dict = {}
        for sq, f in syms:
            for i in range(len(sq) - 1):
                p = (sq[i], sq[i + 1])
                cnt[p] = cnt.get(p, 0) + f
        if not cnt:
            break
        (a, b), c = min(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, int(c)))
        syms = [(_merge_symbols(sq, a, b), f) for sq, f in syms]
    return merges


def bpe_train(spark, sf_dir, n_merges: int = 10) -> DataFrame:
    """Train ``n_merges`` BPE merges; returns (merge_rank, left, right,
    pair_count) — deterministic (count DESC, then lexicographic pair).

    ROUTED (r16): when the word-frequency table is single-task-sized
    (within ``route.CAPS["bpe_vocab"]`` rows) the whole greedy recursion
    runs inside ONE ``route.single_task`` task — one Spark job instead of
    ~2 per merge (pair-count argmax + checkpoint materialization),
    which at fixture scale is pure scheduler overhead over a tiny
    vocab.  A pytest twin pins route equality on the real corpus.

    Distributed route, per iteration: (1) a JVM pair-count aggregation
    over the vocab-sized symbol table (as ``bpe_pair_counts``), (2) the
    argmax merge picked off a 1-row sort, (3) merge application via an
    Arrow-batched pandas UDF over the vocab table (per-word sequential
    by definition, embarrassingly parallel across words), then a
    ``localCheckpoint`` cutting the per-iteration lineage exactly like
    the connected-components loop.  At 100 TB only step (3)'s input —
    the word-frequency table — is large, and it is the SAME size every
    iteration; the corpus is never re-read after the first aggregate."""
    wf0 = word_frequencies(spark, sf_dir).localCheckpoint()
    out_schema = ("merge_rank int, left string, right string, "
                  "pair_count bigint")
    if fits("bpe_vocab", wf0.count()):
        nm = int(n_merges)

        def kern(pdf: pd.DataFrame) -> pd.DataFrame:
            merges = _bpe_train_greedy(
                zip(pdf["w"].tolist(), pdf["f"].tolist()), nm)
            return pd.DataFrame(
                merges, columns=["merge_rank", "left", "right",
                                 "pair_count"])

        return single_task(wf0, kern, out_schema)

    wf = wf0.select(F.expr("split(w, '')").alias("syms"), "f") \
        .localCheckpoint()

    merges = []
    for rank in range(n_merges):
        pairs = wf.select(
            "f", F.explode(F.expr("sequence(1, size(syms) - 1)")).alias("i"),
            "syms",
        ).select(
            F.expr("element_at(syms, i)").alias("a"),
            F.expr("element_at(syms, i + 1)").alias("b"),
            "f",
        )
        # driver-side 1-row argmax — the per-iteration control scalar,
        # same discipline as pagerank's convergence delta (never a
        # corpus-sized collect)
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("f").alias("cnt"))
            .orderBy(F.desc("cnt"), "a", "b")
            .first()
        )
        if top is None:
            break
        a, b, cnt = top.a, top.b, int(top.cnt)
        merges.append((rank, a, b, cnt))
        wf = wf.select(
            _merge_udf(a, b)("syms").alias("syms"), "f"
        ).localCheckpoint()

    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count bigint"
    )


@query(
    "bpe_train_merges",
    "LLM-pipeline/tokenizer",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), wf AS (
        SELECT w, count(*) AS f FROM words WHERE len(w) >= 2 GROUP BY w
    ), pairs AS (
        SELECT substr(w, CAST(i AS INT), 1) AS a,
               substr(w, CAST(i AS INT) + 1, 1) AS b,
               f
        FROM wf, unnest(range(1, len(w))) AS t(i)
    ), pc AS (
        SELECT a, b, CAST(sum(f) AS BIGINT) AS cnt
        FROM pairs GROUP BY a, b
    )
    SELECT a AS first_left, b AS first_right, cnt AS first_count,
           CAST(10 AS BIGINT) AS n_merges,
           TRUE AS symbol_closure_ok,
           TRUE AS twin_match_ok
    FROM pc ORDER BY cnt DESC, a, b LIMIT 1
    """,
)
def bpe_train_merges(spark, sf_dir):
    """Ten BPE training iterations — PROMOTED round 14 from rows-only
    to oracle-checked invariant-verify (the k-core twin pattern): the
    HASHED row is the rank-1 merge, which IS the SQL argmax adjacent
    character pair over the initial word-frequency table (count DESC,
    lexicographic tie-break — DuckDB restates it exactly); the
    iterative tail rides two graded booleans, because no single-query
    SQL can express the merge recursion.

    ``symbol_closure_ok`` — the merge list is CLOSED: every merge's
    left/right symbol is either a single character or the
    concatenation of an EARLIER merge (rank order is a valid build
    order; a corrupted rank ordering or a phantom symbol flips it).
    ``twin_match_ok`` — an ALGORITHM-DIFFERENTIAL twin (pure-Python
    Counter trainer over the collected vocab-tier word-frequency
    table, written independently of BOTH trainer routes — the
    distributed per-iteration aggregate + Arrow merge UDF and the r16
    single-task kernel) reproduces the IDENTICAL (left, right, count)
    list under the same tie-break.  The collect
    is vocab-bounded (the same envelope as the census twins), never
    corpus-sized; the pytest differential stays as well."""
    merges_df = bpe_train(spark, sf_dir, n_merges=10)
    merges = [(r.left, r.right, int(r.pair_count))
              for r in merges_df.orderBy("merge_rank").collect()]
    schema = ("first_left string, first_right string, "
              "first_count bigint, n_merges bigint, "
              "symbol_closure_ok boolean, twin_match_ok boolean")
    if not merges:
        return spark.createDataFrame([], schema)
    # closure law: each merge builds only from chars + earlier merges
    valid = set()
    closure_ok = True
    for left, right, _c in merges:
        for part in (left, right):
            if len(part) > 1 and part not in valid:
                closure_ok = False
        valid.add(left + right)
    # zero-shared-code python twin over the vocab-tier frequency table
    from collections import Counter

    wf_rows = [(r.w, int(r.f))
               for r in word_frequencies(spark, sf_dir).collect()]
    syms = [(list(w), f) for w, f in wf_rows]
    twin = []
    for _rank in range(10):
        cnt: Counter = Counter()
        for sq, f in syms:
            for a, b in zip(sq, sq[1:]):
                cnt[(a, b)] += f
        if not cnt:
            break
        (ba, bb), bc = min(cnt.items(),
                           key=lambda kv: (-kv[1], kv[0]))
        twin.append((ba, bb, bc))
        merged = ba + bb
        nxt = []
        for sq, f in syms:
            out = []
            i = 0
            while i < len(sq):
                if i + 1 < len(sq) and sq[i] == ba and sq[i + 1] == bb:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sq[i])
                    i += 1
            nxt.append((out, f))
        syms = nxt
    twin_ok = twin == merges
    first = merges[0]
    return spark.createDataFrame(
        [(first[0], first[1], first[2], len(merges),
          bool(closure_ok), bool(twin_ok))], schema)


def _encode_len_udf(merges: list[tuple[str, str]]):
    """Arrow-batched encoded-length UDF: apply the learned merge list
    in rank order to one word's character sequence and return the
    resulting token count.  Bound by value (list copied at creation)."""
    ms = list(merges)

    @F.pandas_udf("int")
    def enc_len(col: pd.Series) -> pd.Series:
        def run(w: str) -> int:
            syms = list(w)
            for a, b in ms:
                syms = _merge_symbols(syms, a, b)
            return len(syms)

        return col.map(run).astype("int32")

    return enc_len


def _encode_ladder_udf(merges: list[tuple[str, str]], split: int = 5):
    """One-pass encoded-length LADDER: lengths after 0, ``split`` and
    all merges, from a SINGLE application of the merge list per word.
    Sequential rule application means the state after the first
    ``split`` rules IS the ``merges[:split]`` encoder's final state, so
    the three lengths are identical to three independent
    :func:`_encode_len_udf` runs (pytest pins this) — at a third of
    the Python work and one Arrow boundary crossing instead of three."""
    ms = list(merges)

    @F.pandas_udf("struct<l_full:int,l_half:int,l_zero:int>")
    def enc_ladder(col: pd.Series) -> pd.DataFrame:
        full, half, zero = [], [], []
        for w in col:
            syms = list(w)
            zero.append(len(syms))
            for a, b in ms[:split]:
                syms = _merge_symbols(syms, a, b)
            half.append(len(syms))
            for a, b in ms[split:]:
                syms = _merge_symbols(syms, a, b)
            full.append(len(syms))
        return pd.DataFrame({
            "l_full": pd.Series(full, dtype="int32"),
            "l_half": pd.Series(half, dtype="int32"),
            "l_zero": pd.Series(zero, dtype="int32"),
        })

    return enc_ladder


@query(
    "bpe_encode_token_count",
    "LLM-pipeline/tokenizer",
    oracle="""
    WITH w AS (
        SELECT lang, unnest(string_split(text, ' ')) AS w
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS whitespace_tokens,
           CAST(sum(len(w)) AS BIGINT) AS char_symbols,
           TRUE AS encode_bounds_ok,
           TRUE AS merges_applied_ok
    FROM w
    WHERE len(w) >= 1
    GROUP BY lang
    """,
)
def bpe_encode_token_count(spark, sf_dir):
    """The tokenizer loop closed: train merges (``bpe_train``), then
    ENCODE the corpus with them — PROMOTED round 14 from rows-only to
    oracle-checked conservation-law verify (r13 VERDICT task 7): the
    HASHED values are the per-language whitespace-token and
    character-symbol totals (DuckDB restates both exactly from raw
    text); the BPE-dependent numbers ride two graded booleans instead
    of entering the hash, because the iterative trainer has no SQL
    twin.

    ``encode_bounds_ok`` — every vocabulary word encodes to between 1
    token and its character count (1 <= enc_len <= len(w), checked
    per word, plus the corpus-level consequence whitespace_tokens <=
    bpe_tokens <= char_symbols).  ``merges_applied_ok`` — the
    merges-applied accounting: encoding with ZERO merges returns
    exactly len(w) for every word (each merge application removes
    exactly one symbol, so char_symbols - bpe_tokens IS the number of
    applications), and the merge ladder is monotone per word
    (enc_len under 10 merges <= under the first 5 <= under 0 — a
    prefix merge list leaves both encoders in the identical state
    before the extra rules, which only shorten).  The pure-Python
    encoder differential stays in pytest.

    Scale shape: encoding is computed ONCE PER DISTINCT (lang, word)
    — the per-language word-frequency table — and weighted by
    occurrence count, so the pandas UDF touches |vocab| rows (ONE
    ladder pass yields all three rungs), not corpus tokens; everything
    after is JVM aggregation.  At 100 TB the trained merge list is a
    broadcast-sized artifact and encode stays vocab-bounded per
    partition."""
    merges_df = bpe_train(spark, sf_dir, n_merges=10)
    merges = [
        (r.left, r.right)
        for r in merges_df.orderBy("merge_rank").collect()
    ]
    d = table(spark, sf_dir, "documents")
    wf = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("lang", "w")
        .agg(F.count("*").alias("f"))
    )
    enc = wf.withColumn("_enc", _encode_ladder_udf(merges, split=5)("w")) \
        .select(
            "lang", "w", "f",
            F.col("_enc.l_full").alias("enc_len"),
            F.col("_enc.l_half").alias("enc_len5"),
            F.col("_enc.l_zero").alias("enc_len0"),
        ) \
        .localCheckpoint()  # vocab-sized; reused by laws + aggregate
    # both law counters in ONE job over the checkpointed frame
    law = enc.agg(
        F.count(F.when(
            (F.col("enc_len") < 1) | (F.col("enc_len") > F.length("w")),
            True)).alias("bounds_bad"),
        F.count(F.when(
            (F.col("enc_len0") != F.length("w"))
            | (F.col("enc_len") > F.col("enc_len5"))
            | (F.col("enc_len5") > F.col("enc_len0")),
            True)).alias("law_bad"),
    ).collect()[0]
    n_bounds_bad, n_law_bad = law.bounds_bad, law.law_bad
    return enc.groupBy("lang").agg(
        F.sum("f").cast("bigint").alias("whitespace_tokens"),
        F.sum(F.col("f") * F.length("w")).cast("bigint")
        .alias("char_symbols"),
    ).select(
        "lang", "whitespace_tokens", "char_symbols",
        F.lit(bool(n_bounds_bad == 0)).alias("encode_bounds_ok"),
        F.lit(bool(n_law_bad == 0)).alias("merges_applied_ok"),
    )


# --- Unigram-LM tokenizer (SentencePiece, Kudo 2018) — round 16 -------
#
# The OTHER mainstream subword trainer next to BPE: a piece VOCABULARY
# with probabilities, fit by hard (Viterbi) EM — each iteration
# segments every word type with the best-scoring piece sequence under
# the current probabilities, then re-estimates probabilities from the
# corpus-weighted piece usage counts.  Same 100 TB compression trick
# as BPE: all statistics run over the word-frequency table, so the
# E-step is |vocab|-sized regardless of corpus bytes; the Viterbi DP
# (sequential WITHIN a word, parallel across words) is an
# Arrow-batched pandas UDF; piece-count aggregation is an integer
# explode + groupBy; the per-iteration probability table is
# vocab-bounded on the driver (same envelope as the BPE argmax).

_UNI_SEED_TOPK = 200      # multi-char seed pieces kept (count DESC, piece ASC)
_UNI_MAX_PIECE = 4        # max seed piece length
_UNI_ITERS = 3            # hard-EM iterations


def unigram_word_frequencies(spark, sf_dir) -> DataFrame:
    """(word, freq) over ALL words (len >= 1 — single-character words
    must stay segmentable, unlike BPE's len >= 2 pair tier)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )


def unigram_seed_vocab(spark, sf_dir, wf=None) -> list[tuple[str, int]]:
    """Deterministic seed vocabulary: the top multi-char substrings
    (length 2..4) by corpus-weighted occurrence count (count DESC,
    piece ASC) plus EVERY single character — both computed as JVM
    explode/substring aggregations; only the two bounded result sets
    (200 + alphabet) reach the driver.  Pass a materialized ``wf``
    (word, freq) frame to reuse it — otherwise both collect branches
    re-aggregate the corpus from parquet."""
    if wf is None:
        wf = unigram_word_frequencies(spark, sf_dir)
    subs = wf.select(
        "f",
        F.explode(F.expr("sequence(1, length(w))")).alias("i"),
        F.explode(F.expr(
            f"sequence(2, least({_UNI_MAX_PIECE}, length(w)))")).alias("L"),
        "w",
    ).filter(
        F.col("i") + F.col("L") - 1 <= F.length("w")
    ).select(F.expr("substring(w, i, L)").alias("p"), "f")
    top_multi = (
        subs.groupBy("p").agg(F.sum("f").cast("bigint").alias("cnt"))
        .orderBy(F.desc("cnt"), "p")
        .limit(_UNI_SEED_TOPK)
        .collect()
    )
    chars = (
        wf.select(
            "f",
            F.explode(F.expr("sequence(1, length(w))")).alias("i"), "w")
        .select(F.expr("substring(w, i, 1)").alias("p"), "f")
        .groupBy("p").agg(F.sum("f").cast("bigint").alias("cnt"))
        .collect()
    )
    vocab = {r.p: int(r.cnt) for r in chars}
    for r in top_multi:
        vocab.setdefault(r.p, int(r.cnt))
    return sorted(vocab.items())


def _viterbi_segment(w: str, logp: dict, max_len: int):
    """Best segmentation of ``w`` under piece log-probs: maximize
    summed log-prob, tie-break fewer pieces, then lexicographically
    smallest piece tuple.  Returns (pieces, logp_sum) or None if some
    character has no piece (cannot happen after seeding)."""
    n = len(w)
    NEG = float("-inf")
    # dp[j] = (score, n_pieces, path_tuple) for prefix w[:j]
    dp = [None] * (n + 1)
    dp[0] = (0.0, 0, ())
    for j in range(1, n + 1):
        best = None
        for L in range(1, min(max_len, j) + 1):
            prev = dp[j - L]
            if prev is None:
                continue
            piece = w[j - L:j]
            lp = logp.get(piece)
            if lp is None:
                continue
            cand = (prev[0] + lp, prev[1] + 1, prev[2] + (piece,))
            if best is None or (
                cand[0] > best[0]
                or (cand[0] == best[0]
                    and (cand[1] < best[1]
                         or (cand[1] == best[1] and cand[2] < best[2])))
            ):
                best = cand
        dp[j] = best
    if dp[n] is None:
        return None
    return list(dp[n][2]), dp[n][0]


def _viterbi_udf(logp: dict, max_len: int):
    """Arrow-batched Viterbi over word types; bound by value."""
    lp = dict(logp)

    @F.pandas_udf("struct<pieces: array<string>, lp: double>")
    def seg(col: pd.Series) -> pd.DataFrame:
        rows = []
        for w in col:
            r = _viterbi_segment(w, lp, max_len)
            rows.append({"pieces": r[0], "lp": r[1]} if r
                        else {"pieces": [], "lp": 0.0})
        return pd.DataFrame(rows)

    return seg


def unigram_lm_train(spark, sf_dir, n_iters: int = _UNI_ITERS):
    """Hard-EM unigram-LM training.  Returns (final piece->count dict,
    per-iteration corpus log-likelihoods, wf DataFrame, seed vocab).

    One Spark job per EM iteration: the corpus log-likelihood rides
    the piece-count collect as a DataFrame observation, so the
    Viterbi UDF runs ONCE per iteration with no checkpoint — the old
    shape paid checkpoint + ll aggregate + counts collect (3 jobs)."""
    import math

    from pyspark.sql import Observation

    wf = unigram_word_frequencies(spark, sf_dir).localCheckpoint()
    vocab = unigram_seed_vocab(spark, sf_dir, wf=wf)
    if not vocab:
        return {}, [], wf, vocab
    total = float(sum(c for _p, c in vocab))
    logp = {p: math.log(c / total) for p, c in vocab}
    lls = []
    counts: dict = {}
    for _it in range(n_iters):
        obs = Observation()
        rows = (
            wf.select(
                "f", _viterbi_udf(logp, _UNI_MAX_PIECE)("w").alias("s"))
            .observe(obs, F.sum(F.col("f") * F.col("s.lp")).alias("ll"))
            .select("f", F.explode("s.pieces").alias("p"))
            .groupBy("p").agg(F.sum("f").cast("bigint").alias("c"))
            .collect()
        )
        lls.append(float(obs.get["ll"] or 0.0))
        counts = {r.p: int(r.c) for r in rows}
        ctotal = float(sum(counts.values()))
        logp = {p: math.log(c / ctotal) for p, c in counts.items()}
    return counts, lls, wf, vocab


@query(
    "unigram_lm_tokenizer_train",
    "LLM-pipeline/tokenizer",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ), wf AS (
        SELECT w, CAST(count(*) AS BIGINT) AS f
        FROM words WHERE len(w) >= 1 GROUP BY w
    ), subs AS (
        SELECT substr(w, CAST(i AS INT), CAST(L AS INT)) AS p, f
        FROM wf,
             unnest(range(1, len(w) + 1)) AS t1(i),
             unnest(range(2, least(4, len(w)) + 1)) AS t2(L)
        WHERE i + L - 1 <= len(w)
    ), sc AS (
        SELECT p, CAST(sum(f) AS BIGINT) AS cnt FROM subs GROUP BY p
    )
    SELECT p AS seed_top_piece, cnt AS seed_top_count,
           (SELECT CAST(count(*) AS BIGINT) FROM wf) AS n_word_types,
           CAST(3 AS BIGINT) AS n_iters,
           TRUE AS ll_monotone_ok,
           TRUE AS coverage_ok,
           TRUE AS twin_match_ok
    FROM sc ORDER BY cnt DESC, p LIMIT 1
    """,
)
def unigram_lm_tokenizer_train(spark, sf_dir):
    """UNIGRAM-LM (SentencePiece-style) TOKENIZER TRAINING — the
    probabilistic subword trainer next to the BPE rows (Kudo 2018,
    public), fit by three deterministic hard-EM iterations over the
    word-frequency table and graded by the ``bpe_train_merges``
    receipts pattern: the HASHED columns are the rank-1 multi-char
    seed piece (the SQL argmax substring-count over length-2..4
    windows, count DESC / piece ASC — DuckDB restates it exactly) and
    the word-type count; the iterative tail rides three graded
    booleans, because no single-query SQL can express the Viterbi-EM
    recursion.

    ``ll_monotone_ok`` — the corpus Viterbi log-likelihood is
    non-decreasing across EM iterations (hard EM is coordinate
    ascent: the E-step maximizes over segmentations given the
    probabilities, the M-step is the exact multinomial MLE given the
    segmentations; zero-count pieces drop without breaking
    segmentability because every character position was covered by a
    counted piece).  ``coverage_ok`` — every word type's final
    segmentation concatenates back to the word exactly (conservation,
    checked distributed over the full type table).  ``twin_match_ok``
    — a zero-shared-structure pure-Python twin (memoized recursive
    Viterbi over the collected vocab-tier frequency table vs the
    Spark trainer's iterative-DP Arrow UDF + integer explode/groupBy
    counts) reproduces the IDENTICAL final piece->count mapping.
    Tie-breaks are total (score, then fewer pieces, then
    lexicographic piece tuple), so the whole fit is deterministic.
    Scale: E-step cost = |word types| x len x max_piece_len per
    iteration — corpus-size-independent after the first aggregate;
    the per-iteration probability table is vocab-bounded (~460
    entries) on the driver, the same envelope as the BPE argmax
    scalar."""
    counts, lls, wf, seed_rows = unigram_lm_train(spark, sf_dir)
    schema = ("seed_top_piece string, seed_top_count bigint, "
              "n_word_types bigint, n_iters bigint, "
              "ll_monotone_ok boolean, coverage_ok boolean, "
              "twin_match_ok boolean")
    if not counts:
        return spark.createDataFrame([], schema)
    import math

    # hashed restatable columns: seed argmax (returned by the trainer
    # — re-deriving it re-ran both seed collect jobs) + word-type
    # count, read off the twin's collect below instead of a count job
    multi = [(p, c) for p, c in seed_rows if len(p) >= 2]
    top_p, top_c = min(multi, key=lambda pc: (-pc[1], pc[0]))
    # receipt 1: monotone Viterbi likelihood (tolerance for the
    # shuffle-order double sum)
    ll_ok = all(b >= a - 1e-6 for a, b in zip(lls, lls[1:]))
    # receipt 2: conservation, checked distributed over all types
    ctotal = float(sum(counts.values()))
    final_logp = {p: math.log(c / ctotal) for p, c in counts.items()}
    seg = wf.select(
        "w", _viterbi_udf(final_logp, _UNI_MAX_PIECE)("w").alias("s"))
    n_bad = seg.filter(
        F.concat_ws("", F.col("s.pieces")) != F.col("w")).count()
    coverage_ok = n_bad == 0
    # receipt 3: pure-python twin (recursive memoized viterbi; no
    # shared DP code with _viterbi_segment's iterative form)
    wf_rows = [(r.w, int(r.f)) for r in wf.collect()]
    n_types = len(wf_rows)  # == the old wf.count() job, for free
    twin_vocab = dict(seed_rows)
    ttotal = float(sum(twin_vocab.values()))
    tlogp = {p: math.log(c / ttotal) for p, c in twin_vocab.items()}
    twin_counts: dict = {}
    for _it in range(_UNI_ITERS):
        from functools import lru_cache

        lp_now = dict(tlogp)

        def best(w):
            @lru_cache(maxsize=None)
            def go(j):
                if j == 0:
                    return (0.0, 0, ())
                cands = []
                for L in range(1, min(_UNI_MAX_PIECE, j) + 1):
                    piece = w[j - L:j]
                    if piece not in lp_now:
                        continue
                    prev = go(j - L)
                    if prev is None:
                        continue
                    cands.append((prev[0] + lp_now[piece],
                                  prev[1] + 1, prev[2] + (piece,)))
                if not cands:
                    return None
                return min(cands, key=lambda c: (-c[0], c[1], c[2]))
            return go(len(w))

        acc: dict = {}
        for w, f in wf_rows:
            r = best(w)
            for piece in r[2]:
                acc[piece] = acc.get(piece, 0) + f
        twin_counts = acc
        tt = float(sum(acc.values()))
        tlogp = {p: math.log(c / tt) for p, c in acc.items()}
    twin_ok = twin_counts == counts
    return spark.createDataFrame(
        [(top_p, int(top_c), int(n_types), _UNI_ITERS,
          bool(ll_ok), bool(coverage_ok), bool(twin_ok))], schema)
