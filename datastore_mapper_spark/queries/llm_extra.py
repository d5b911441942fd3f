"""Extended LLM-pipeline queries beyond the base SURVEY §2.B rows —
the operator library (operators/) projected onto oracle-checkable
queries: language ID, quality scoring, regex token counting, document
fingerprinting, embedding near-dup, IVF ANN, multimodal metadata, and
the rows-only MinHash-LSH / SimHash scale paths.
"""

from __future__ import annotations

import functools

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import table
from ..operators import dedup as dd
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators import text as tx
from ..registry import query


def _hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang])
    return (
        f"len(list_filter([{words}], "
        f"x -> list_contains(string_split(text, ' '), x)))"
    )


@query(
    "lang_id_stopword",
    "LLM-pipeline",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               {_hits_sql('en')} AS s_en,
               {_hits_sql('de')} AS s_de,
               {_hits_sql('es')} AS s_es,
               {_hits_sql('fr')} AS s_fr,
               {_hits_sql('zh')} AS s_zh
        FROM documents
    )
    SELECT lang,
           CASE
             WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr
                  AND s_en >= s_zh THEN 'en'
             WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
             WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
             WHEN s_fr >= s_zh THEN 'fr'
             ELSE 'zh'
           END AS predicted_lang,
           count(*) AS cnt
    FROM scored
    GROUP BY 1, 2
    """,
)
def lang_id_stopword(spark, sf_dir):
    """Heuristic language ID (stopword-hit argmax, operators.text),
    confusion counts vs the labeled lang column."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "lang", tx.predicted_lang(F.col("text")).alias("predicted_lang")
        )
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "quality_score_filter",
    "LLM-pipeline",
    oracle=f"""
    WITH q AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INT) AS n_toks,
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
    )
    SELECT doc_id, n_toks, score FROM q WHERE score >= 0.5
    """,
)
def quality_score_filter(spark, sf_dir):
    """Composite quality score (length saturation + lexical diversity +
    stopword presence); keep docs scoring >= 0.5."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            tx.n_tokens(F.col("text")).alias("n_toks"),
            tx.quality_score(F.col("text")).alias("score"),
        )
        .filter(F.col("score") >= 0.5)
    )


@query(
    "token_count_regex",
    "LLM-pipeline",
    oracle="""
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT)
             AS total_tokens,
           avg(CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT))
             AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def token_count_regex(spark, sf_dir):
    """Regex-extraction token counting (the BPE-ish pre-tokenizer path)."""
    d = table(spark, sf_dir, "documents")
    cnt = tx.regex_token_count(F.col("text"))
    return d.groupBy("lang").agg(
        F.sum(cnt).alias("total_tokens"),
        F.avg(cnt).alias("avg_tokens"),
    )


@query(
    "doc_fingerprint",
    "LLM-pipeline",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents
        )
    )
    SELECT doc_id,
           CAST(sum((len(tok) * 31 + ascii(tok))
                    * (len(tok) * 37 + ascii(right(tok, 1))))
                % {tx.FINGERPRINT_MOD} AS BIGINT) AS fingerprint
    FROM toks
    GROUP BY doc_id
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Order-independent token-set fingerprint per document — the cheap
    pre-cluster key for dedup (identical fingerprint => likely same
    token set; exact/Jaccard verify runs within fingerprint groups)."""
    d = table(spark, sf_dir, "documents")
    toks = dd.tokens(d)
    return toks.groupBy("doc_id").agg(
        (F.sum(tx.token_fingerprint_term()) % tx.FINGERPRINT_MOD)
        .cast("long")
        .alias("fingerprint")
    )


@query(
    "neardup_cosine_pairs",
    "LLM-pipeline",
    oracle="""
    WITH ex AS (
        SELECT vec_id,
               CAST(unnest(embedding) AS DOUBLE) AS v,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
        WHERE vec_id < 500
    ), norms AS (
        SELECT vec_id, sum(v * v) AS nn FROM ex GROUP BY vec_id
    ), dots AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.v * b.v) AS dot
        FROM ex a JOIN ex b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    )
    SELECT id1, id2,
           round(dot / (sqrt(n1.nn) * sqrt(n2.nn)), 4) AS sim
    FROM dots
    JOIN norms n1 ON id1 = n1.vec_id
    JOIN norms n2 ON id2 = n2.vec_id
    WHERE round(dot / (sqrt(n1.nn) * sqrt(n2.nn)), 4) >= 0.4
    """,
)
def neardup_cosine_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (sim >= 0.4, rounded 4 dp)
    over a CAPPED calibration subset (vec_id < 500, deterministic at
    any SF — round-5 VERDICT "What's wrong" #1).

    Brute-force all-pairs is the exact-recall anchor that calibrates
    the blocked form, never the production path: the cap bounds the
    pair join at 500^2 regardless of corpus size, so no user reaching
    for this name gets an unbounded O(n^2) plan.  The scale path for
    the FULL corpus is :func:`neardup_cosine_bucketed` (sign-cell
    equi-join blocking; same threshold, same output shape)."""
    e = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    # self-norm folded once per VECTOR below the pair join (500 folds),
    # not once per PAIR side (2 x 125k folds) — bit-identical quotient
    en = e.withColumn(
        "_n", F.sqrt(sim.dot(F.col("embedding"), F.col("embedding"))))
    a = en.select(F.col("vec_id").alias("id1"),
                  F.col("embedding").alias("e1"), F.col("_n").alias("n1"))
    b = en.select(F.col("vec_id").alias("id2"),
                  F.col("embedding").alias("e2"), F.col("_n").alias("n2"))
    s = F.round(sim.cosine_hoisted(F.col("e1"), F.col("e2"),
                                   F.col("n1"), F.col("n2")), 4)
    return (
        a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", s.alias("sim"))
        .filter(F.col("sim") >= 0.4)
    )


@query(
    "ivf_knn_bucketed",
    "LLM-pipeline",
    oracle="""
    WITH bucketed AS (
        SELECT vec_id, embedding,
               (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings
    ), q AS (
        SELECT embedding AS qe, bucket AS qbucket,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM (SELECT unnest(embedding) AS x)) AS qq
        FROM bucketed WHERE vec_id = 0
    ), sims AS (
        SELECT e.vec_id,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                FROM (SELECT unnest(e.embedding) AS x, unnest(q.qe) AS y))
                 AS dot,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM (SELECT unnest(e.embedding) AS x)) AS dd,
               q.qq AS qq
        FROM bucketed e, q
        WHERE e.vec_id <> 0 AND e.bucket = q.qbucket
    )
    SELECT vec_id, round(dot / (sqrt(dd) * sqrt(qq)), 4) AS sim
    FROM sims
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
)
def ivf_knn_bucketed(spark, sf_dir):
    """IVF-style ANN: probe only the query's sign-pattern cell
    (operators.similarity.ivf_topk) — the partition-pruned scale path
    for knn_cosine_top10."""
    e = table(spark, sf_dir, "embeddings")
    return sim.ivf_topk(e, query_id=0, k=10)


@query(
    "multimodal_meta_extract",
    "LLM-pipeline",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(length(text) % 640 AS INT) AS width,
           CAST(ascii(substr(text, 1, 1)) % 480 AS INT) AS height
    FROM documents
    """,
)
def multimodal_meta_extract(spark, sf_dir):
    """Binary-column plumbing: documents as opaque payloads ->
    Arrow-batched mapInPandas metadata extraction (deterministic fake
    codec; the REAL-codec twin is multimodal_bmp_decode_stats)."""
    d = table(spark, sf_dir, "documents")
    return mm.media_rows(mm.as_binary_media(d), mm.extract_media_meta,
                         mm.MEDIA_META_SCHEMA)


@query(
    "multimodal_bmp_decode_stats",
    "LLM-pipeline",
    oracle="""
    SELECT doc_id,
           CAST((doc_id % 13) + 2 AS INT) AS width,
           CAST((doc_id % 7) + 2 AS INT) AS height,
           CAST((doc_id % 200) + ((doc_id % 13) + 1) / 2.0 AS DOUBLE)
               AS mean_r,
           CAST((doc_id % 200) + ((doc_id % 7) + 1) / 2.0 AS DOUBLE)
               AS mean_g,
           CAST(doc_id % 200 AS DOUBLE) AS mean_b
    FROM documents
    """,
)
def multimodal_bmp_decode_stats(spark, sf_dir):
    """REAL image decode, end-to-end (round-6 VERDICT task 4): render a
    genuine 24-bpp BMP per document (header, BGR order, 4-byte row
    padding — operators/multimodal.encode_bmp24), then parse the BYTES
    back with the pure-numpy decoder (decode_bmp24) and emit decoded
    width/height/per-channel means, all inside Arrow-batched
    mapInPandas.  No ``fake=`` stand-in anywhere on this path.

    The pixel law is a closed form of ``doc_id`` (bmp_law), so
    the DuckDB oracle predicts the decoded stats EXACTLY: any
    mis-parse of the 54-byte header, the bottom-up row order, the BGR
    swap, or the row padding shifts a mean and hash-fails.  Channel
    sums are int64 with one exact division, so the doubles are
    correctly-rounded true rationals on both engines (§7.3-H2-safe,
    no libm anywhere)."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.bmp_law),
        mm.extract_image_stats, mm.IMAGE_STATS_SCHEMA)


@query(
    "multimodal_wav_decode_stats",
    "LLM-pipeline",
    oracle="""
    SELECT doc_id,
           CAST((doc_id % 50) + 8 AS INT) AS n_samples,
           CAST(16000 AS INT) AS sample_rate,
           CAST(((doc_id % 50) + 8) / 16000.0 AS DOUBLE) AS duration_s,
           CAST(((doc_id % 300) - 150)
                + ((doc_id % 9) - 4) * ((doc_id % 50) + 7) / 2.0 AS DOUBLE)
               AS mean_amp,
           CAST(greatest(
                    abs((doc_id % 300) - 150),
                    abs((doc_id % 300) - 150
                        + ((doc_id % 9) - 4) * ((doc_id % 50) + 7))
                ) AS INT) AS peak_amp
    FROM documents
    """,
)
def multimodal_wav_decode_stats(spark, sf_dir):
    """REAL audio decode, end-to-end: render a genuine mono 16-bit PCM
    WAV per document (RIFF/fmt/data chunks —
    operators/multimodal.encode_wav_pcm16), walk the RIFF chunk list
    back with the pure-struct decoder and emit decoded sample count,
    rate, duration and mean/peak amplitude, all inside Arrow-batched
    mapInPandas.  The audio twin of multimodal_bmp_decode_stats.

    The sample law is a linear ramp in closed form of ``doc_id``
    (wav_law), so the oracle predicts the decoded stats
    EXACTLY (mean of a ramp = base + slope*(n-1)/2; peak = the larger
    endpoint magnitude).  Any mis-parse of chunk sizes, the fmt
    layout, or int16 endianness shifts a value and hash-fails.
    Amplitude sums are int64 with one exact division — no libm
    (§7.3-H2)."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.wav_law),
        mm.extract_audio_stats, mm.AUDIO_STATS_SCHEMA)


@query(
    "multimodal_y4m_frame_stats",
    "LLM-pipeline",
    oracle="""
    SELECT doc_id,
           CAST((doc_id % 6) + 2 AS INT) AS n_frames,
           CAST((doc_id % 5) + 2 AS INT) AS width,
           CAST((doc_id % 4) + 2 AS INT) AS height,
           CAST((doc_id % 200) + ((doc_id % 6) + 1) / 2.0 AS DOUBLE)
               AS mean_luma
    FROM documents
    """,
)
def multimodal_y4m_frame_stats(spark, sf_dir):
    """REAL video decode, end-to-end: render a genuine YUV4MPEG2 clip
    per document (text stream header + FRAME markers + planar C444
    payloads — operators/multimodal.encode_y4m), parse the bytes back
    with the pure-numpy decoder and emit decoded frame count,
    dimensions and whole-clip mean luma, inside Arrow-batched
    mapInPandas.  Completes the real-decode trio (BMP image, WAV
    audio, y4m video); compressed codecs stay gated.

    Frame ``f`` carries constant luma ``(doc_id % 200) + f``, so the
    oracle predicts mean luma ``base + (n-1)/2`` exactly; a mis-walk
    of FRAME markers, plane order, or frame stride shifts it and
    hash-fails.  Luma sums are int64 with one exact division
    (§7.3-H2)."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.y4m_law),
        mm.extract_video_stats, mm.VIDEO_STATS_SCHEMA)


@query(
    "multimodal_frame_sample_y4m",
    "LLM-pipeline",
    oracle="""
    SELECT doc_id,
           CAST(f AS INT) AS frame_no,
           CAST((doc_id % 200) + f AS DOUBLE) AS mean_luma
    FROM documents, unnest(range(0, (doc_id % 6) + 2, 2)) AS t(f)
    """,
)
def multimodal_frame_sample_y4m(spark, sf_dir):
    """REAL frame sampling with fan-out: decode each rendered y4m clip
    and keep every 2nd frame, emitting per-frame mean luma — the
    keyframe-extraction shape of a video training pipeline.  The
    fan-out happens INSIDE the pandas batch (one mapInPandas, no
    explode shuffle); the oracle reproduces it with a correlated
    range unnest.  Frame f's constant luma (doc_id % 200) + f makes
    every sampled frame's mean exact on both engines."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(mm.render_media(d, mm.y4m_law),
                         mm.sample_y4m_frames, mm.FRAME_SAMPLE_SCHEMA)


@query(
    "multimodal_pipeline_canonical",
    "LLM-pipeline/multimodal",
    oracle="""
    WITH feats AS (
        SELECT doc_id, 'image' AS modality,
               CAST(doc_id % 200 AS BIGINT) AS fingerprint
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, 'audio',
               CAST(2 * ((doc_id % 300) - 150)
                    + ((doc_id % 9) - 4) * ((doc_id % 50) + 7) AS BIGINT)
        FROM documents WHERE doc_id % 3 = 1
        UNION ALL
        SELECT doc_id, 'video',
               CAST(2 * (doc_id % 200) + (doc_id % 6) + 1 AS BIGINT)
        FROM documents WHERE doc_id % 3 = 2
    )
    SELECT modality, fingerprint,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS canonical_doc_id
    FROM feats
    GROUP BY modality, fingerprint
    """,
)
def multimodal_pipeline_canonical(spark, sf_dir):
    """The COMPOSED multimodal training-data recipe, graded as one
    unit (round-7 VERDICT task 6): a mixed corpus — each document is
    an image, audio clip, or video by ``doc_id % 3`` — flows through
    REAL codec decode (BMP / WAV / y4m, operators/multimodal.py) →
    per-modality feature extraction (decoded channel/amplitude/luma
    statistics) → content-fingerprint near-dup grouping → canonical
    selection (min doc_id per duplicate group), the exact shape a
    100 TB multimodal dedup stage ships.

    Every byte on the Spark side is genuinely encoded then decoded by
    the pure-numpy/struct codecs inside Arrow-batched ``mapInPandas``;
    the fingerprints are integers recovered from DECODED bytes (image:
    the constant blue channel; audio/video: 2x the decoded mean, an
    exact integer for a linear ramp / frame ladder), so a mis-parse
    anywhere in any codec shifts a fingerprint, moves a document to
    the wrong duplicate group, and hash-fails.  The oracle replays
    the whole pipeline from the closed-form render laws (ASSUMES
    doc_id >= 0, see bmp_law).  Scale shape: decode is
    partition-preserving (no shuffle until the final fingerprint
    groupBy on already-tiny per-doc rows); the three modality branches
    prune at the parquet scan on ``doc_id % 3``."""

    d = table(spark, sf_dir, "documents")
    imgs = mm.media_rows(
        mm.render_media(d.filter(F.col("doc_id") % 3 == 0), mm.bmp_law),
        mm.extract_image_stats, mm.IMAGE_STATS_SCHEMA,
    ).select(
        "doc_id",
        F.lit("image").alias("modality"),
        F.col("mean_b").cast("bigint").alias("fingerprint"),
    )
    auds = mm.media_rows(
        mm.render_media(d.filter(F.col("doc_id") % 3 == 1), mm.wav_law),
        mm.extract_audio_stats, mm.AUDIO_STATS_SCHEMA,
    ).select(
        "doc_id",
        F.lit("audio").alias("modality"),
        (F.col("mean_amp") * 2).cast("bigint").alias("fingerprint"),
    )
    vids = mm.media_rows(
        mm.render_media(d.filter(F.col("doc_id") % 3 == 2), mm.y4m_law),
        mm.extract_video_stats, mm.VIDEO_STATS_SCHEMA,
    ).select(
        "doc_id",
        F.lit("video").alias("modality"),
        (F.col("mean_luma") * 2).cast("bigint").alias("fingerprint"),
    )
    feats = imgs.unionByName(auds).unionByName(vids)
    return feats.groupBy("modality", "fingerprint").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("canonical_doc_id"),
    )


#: Doc-coverage bounds for the sketch-then-verify dedup promotions.
#: PAIR recall is the wrong bar at scale — the LSH big-bucket star
#: decomposition deliberately replaces k²/2 clique pairs with O(k) hub
#: edges (pair recall 0.004 at sf0.1 while every cluster stays
#: connected), so the graded quantity is DOCUMENT coverage: the
#: fraction of docs with >=1 exact near-dup partner that the sketch
#: also attaches to some partner.  Measured across sf0.001/0.01/0.1:
#: minhash 1.0/0.997/0.903, simhash 1.0/1.0/1.0.
MINHASH_DOC_COVERAGE_BOUND = 0.80
SIMHASH_DOC_COVERAGE_BOUND = 0.95

_NEARDUP_DOCS_BY_LANG_ORACLE = """
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
    ), edges AS (
        SELECT p.d1, p.d2
        FROM pairs p
        JOIN sizes s1 ON p.d1 = s1.doc_id
        JOIN sizes s2 ON p.d2 = s2.doc_id
        WHERE CAST(p.inter AS DOUBLE) / (s1.sz + s2.sz - p.inter) >= 0.8
    ), nd AS (
        SELECT d1 AS doc FROM edges UNION SELECT d2 AS doc FROM edges
    )
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_neardup_docs,
           CAST(min(nd.doc) AS BIGINT) AS min_doc,
           CAST(max(nd.doc) AS BIGINT) AS max_doc,
           TRUE AS coverage_ok
    FROM nd JOIN documents d ON nd.doc = d.doc_id
    GROUP BY d.lang
"""


def _neardup_docs_by_lang_verified(spark, sf_dir, sketch_docs, bound):
    """Shared sketch-then-verify finisher: the hashed output is the
    EXACT near-dup document census per language (from the
    content-addressed census snapshot, llm_text.near_dup_doc_census —
    one materialization per corpus, r11 VERDICT task 3), and
    ``coverage_ok`` grades the sketch — TRUE iff the sketch attaches
    >= ``bound`` of the exact near-dup docs to some partner.  The
    probabilistic object stays out of the hashed values; its QUALITY
    is what the driver hash-checks, same contract as
    ivf_kmeans_recall_verified."""
    from .llm_text import near_dup_doc_census

    census = near_dup_doc_census(spark, sf_dir)  # (doc, lang) snapshot
    exact_docs = census.select("doc")
    stats = exact_docs.agg(F.count("*").alias("n_exact")).crossJoin(
        sketch_docs.join(exact_docs, "doc", "left_semi")
        .agg(F.count("*").alias("n_hit"))
    )
    ok = stats.select(
        (F.col("n_hit") >= bound * F.col("n_exact")).alias("coverage_ok")
    )
    return (
        census.groupBy("lang")
        .agg(
            F.count("*").alias("n_neardup_docs"),
            F.min("doc").alias("min_doc"),
            F.max("doc").alias("max_doc"),
        )
        .crossJoin(F.broadcast(ok))
    )


@query(
    "dedup_minhash_lsh",
    "LLM-pipeline",
    oracle=_NEARDUP_DOCS_BY_LANG_ORACLE,
    description="MinHash LSH dedup, sketch-then-verify (round-11 "
    "promotion from rows-only): exact near-dup doc census per lang, "
    "with coverage_ok grading LSH doc coverage >= 0.80.",
)
def dedup_minhash_lsh(spark, sf_dir):
    """The 100 TB near-dup path: MinHash signatures -> LSH banding ->
    candidate pairs -> exact-Jaccard verify (operators/dedup.py),
    graded against the exact near-dup doc set (round-10 VERDICT task
    5).  Doc coverage, not pair recall, is the bar: the big-bucket
    star decomposition intentionally thins clique pairs to hub edges
    (connectivity-preserving), so pair recall collapses by design at
    clique-heavy SFs while every near-dup document stays attached."""
    d = table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d)
    found = dd.verify_jaccard(dd.lsh_candidate_pairs(sigs), d, threshold=0.8)
    sketch_docs = (
        found.select(F.col("d1").alias("doc"))
        .union(found.select(F.col("d2").alias("doc")))
        .distinct()
    )
    return _neardup_docs_by_lang_verified(
        spark, sf_dir, sketch_docs, MINHASH_DOC_COVERAGE_BOUND
    )


@query(
    "dedup_simhash",
    "LLM-pipeline",
    oracle=_NEARDUP_DOCS_BY_LANG_ORACLE,
    description="SimHash dedup, sketch-then-verify (round-11 promotion "
    "from rows-only): exact near-dup doc census per lang, with "
    "coverage_ok grading hamming<=2 doc coverage >= 0.95.",
)
def dedup_simhash(spark, sf_dir):
    """16-bit SimHash with half-band blocking, graded against the
    exact near-dup doc set (round-10 VERDICT task 5).  Jaccard >= 0.8
    token sets give near-parallel term vectors, so their fingerprints
    land within hamming 2 — measured doc coverage 1.0 at every SF;
    the 0.95 bound leaves margin for corpus drift, and a blocking bug
    (a lost half-band) would zero whole clusters and hash-fail."""
    d = table(spark, sf_dir, "documents")
    # same doc set as unioning simhash_near_pairs' d1/d2 columns, minus
    # the 3.3M-doc-pair expansion (operators/dedup.simhash_near_docs)
    sketch_docs = dd.simhash_near_docs(dd.simhash(d))
    return _neardup_docs_by_lang_verified(
        spark, sf_dir, sketch_docs, SIMHASH_DOC_COVERAGE_BOUND
    )


@query(
    "embedding_normalize_quantize",
    "LLM-pipeline",
    oracle="""
    SELECT vec_id,
           round(norm, 4) AS l2_norm,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) / norm * 127)
                         AS INTEGER))[1] AS q_first,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) / norm * 127)
                         AS INTEGER))[64] AS q_last,
           CAST(list_aggregate(list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) / norm * 127) AS BIGINT)),
               'sum') AS BIGINT) AS q_sum
    FROM (SELECT vec_id, embedding,
                 sqrt(list_aggregate(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                     AS norm
          FROM embeddings)
    """,
)
def embedding_normalize_quantize(spark, sf_dir):
    """L2-normalize + int8-style quantization (floor(x/‖x‖·127)) — the
    compression step before ANN index build.  floor() on BOTH sides:
    Spark CAST(double AS INT) truncates while DuckDB CAST rounds, so a
    bare cast would diverge on half the components."""
    e = table(spark, sf_dir, "embeddings")
    norm = F.sqrt(F.expr(
        "aggregate(embedding, cast(0.0 as double), "
        "(a, x) -> a + cast(x as double) * cast(x as double))"
    ))
    with_norm = e.select("vec_id", "embedding", norm.alias("norm"))
    quant = "transform(embedding, x -> cast(floor(cast(x as double) / norm * 127) as int))"
    return with_norm.select(
        "vec_id",
        F.round("norm", 4).alias("l2_norm"),
        F.expr(f"element_at({quant}, 1)").alias("q_first"),
        F.expr(f"element_at({quant}, 64)").alias("q_last"),
        F.expr(
            "aggregate(transform(embedding, "
            "x -> cast(floor(cast(x as double) / norm * 127) as bigint)), "
            "cast(0 as bigint), (a, x) -> a + x)"
        ).alias("q_sum"),
    )


# ivf_kmeans_knn RETIRED in round 11 (round-10 VERDICT task 5): its
# rows-only check was strictly dominated by ``ivf_kmeans_recall_verified``
# (same kmeans_train + ivf_topk_kmeans operators, same nprobe knob, but
# oracle-checked against the exact scorer with a similarity-mass bound).
# The operators remain exercised by that query plus
# tests/test_operators.py::test_kmeans_ivf_recall_vs_bruteforce.


@query(
    "neardup_cosine_bucketed",
    "LLM-pipeline",
    oracle="""
    WITH bucketed AS (
        SELECT vec_id, embedding,
               (CASE WHEN embedding[1] > 0 THEN 8 ELSE 0 END
                + CASE WHEN embedding[2] > 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[3] > 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings
    ), ex AS (
        SELECT vec_id, bucket,
               CAST(unnest(embedding) AS DOUBLE) AS v,
               generate_subscripts(embedding, 1) AS i
        FROM bucketed
    ), norms AS (
        SELECT vec_id, sum(v * v) AS nn FROM ex GROUP BY vec_id
    ), dots AS (
        SELECT a.vec_id AS id1, b.vec_id AS id2, sum(a.v * b.v) AS dot
        FROM ex a
        JOIN ex b ON a.i = b.i AND a.bucket = b.bucket
                 AND a.vec_id < b.vec_id
        GROUP BY 1, 2
    )
    SELECT id1, id2,
           round(dot / (sqrt(n1.nn) * sqrt(n2.nn)), 4) AS sim
    FROM dots
    JOIN norms n1 ON id1 = n1.vec_id
    JOIN norms n2 ON id2 = n2.vec_id
    WHERE round(dot / (sqrt(n1.nn) * sqrt(n2.nn)), 4) >= 0.4
    """,
)
def neardup_cosine_bucketed(spark, sf_dir):
    """Embedding near-dup pairs with IVF-style blocking: candidate
    pairs come only from the SAME sign-pattern cell (equi-join on
    bucket — a shuffle on the cell id, never an all-pairs product),
    then the exact cosine threshold.  The scale path for
    neardup_cosine_pairs: per-cell pair cost is (n/2^d)^2 per cell vs
    n^2 global, and the cells are the partition key at rest.  The
    oracle applies the identical bucket restriction, so the comparison
    is exact (recall loss vs the brute-force query is a DESIGN
    property of the blocking, not a correctness gap — near-identical
    vectors share leading signs unless a component sits near 0)."""
    e = table(spark, sf_dir, "embeddings")
    bucketed = e.withColumn("bucket", sim.sign_bucket(F.col("embedding"))) \
        .withColumn(
            # self-norm folded once per VECTOR below the cell join, not
            # once per pair side — bit-identical quotient
            "_n", F.sqrt(sim.dot(F.col("embedding"), F.col("embedding"))))
    a = bucketed.select(
        F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"),
        F.col("_n").alias("n1"), "bucket"
    )
    b = bucketed.select(
        F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"),
        F.col("_n").alias("n2"), "bucket"
    )
    s = F.round(sim.cosine_hoisted(F.col("e1"), F.col("e2"),
                                   F.col("n1"), F.col("n2")), 4)
    return (
        a.join(b, ["bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", s.alias("sim"))
        .filter(F.col("sim") >= 0.4)
    )


@query(
    "tfidf_top_terms",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
    ), df AS (
        SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
        FROM tf JOIN df USING (tok) CROSS JOIN n
    ), ranked AS (
        SELECT doc_id, tok, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, tok ASC) AS rn
        FROM scored
    )
    SELECT doc_id, tok, tfidf, rn FROM ranked WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document — the classic quality/keyword
    signal for a training-data pipeline.  Scale shape: the document
    frequency table is vocabulary-sized (small), so it broadcasts; the
    term-frequency table shuffles once on ``tok`` for the join and once
    on ``doc_id`` for the window — both keys are high-cardinality and
    unskewed.  The corpus-size scalar is a broadcast cross join, never
    a driver-side ``.count()``.  Score pinned at 4 dp (§7.3-H2) with a
    ``tok`` tie-break so ranking is total (§7.3-H7)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tfidf", "rn")
    )


@query(
    "dedup_bigram_jaccard",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(w) - 1),
                          i -> list_extract(w, i) || ' ' || list_extract(w, i + 1)))
                   AS g
            FROM toks
        )
    ), sizes AS (
        SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
    ), pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.d1, p.d2,
           round(CAST(p.inter AS DOUBLE) / (s1.sz + s2.sz - p.inter), 4) AS jac
    FROM pairs p
    JOIN sizes s1 ON p.d1 = s1.doc_id
    JOIN sizes s2 ON p.d2 = s2.doc_id
    WHERE CAST(p.inter AS DOUBLE) / (s1.sz + s2.sz - p.inter) >= 0.6
    """,
)
def dedup_bigram_jaccard(spark, sf_dir):
    """Near-duplicate pairs by word-bigram (2-shingle) Jaccard >= 0.6.
    Bigram shingles are far rarer than single tokens, so the
    shared-shingle candidate join stays near-linear where a unigram
    join would square up; at 100 TB the candidate step is replaced by
    MinHash-LSH banding over the same shingles (operators/dedup.py) and
    this exact Jaccard verifies the surviving candidates.

    Plan note (round-8 VERDICT task 4): on THIS fixture the shared-
    shingle index degenerates — 931 distinct bigrams over 5 000 docs
    at sf0.1, Σ df² = 73 M join rows, 82 % of all pairs are
    candidates — so every index-join formulation measured 20-40 s.
    The exact plan with the lowest per-pair constant is the packed-
    bitset blocked kernel (operators/bitset.py): dictionary-encode
    the bigrams, pack each doc's shingle set into ⌈V/64⌉ longs, and
    count pairwise intersections with one binary matmul per bucket-
    pair (integer-exact).  The kernel emits only integer counts for
    pairs that can pass (inter ≥ 1 and the size-ratio bound
    5·min ≥ 3·max implied by jac ≥ 0.6); the Jaccard division,
    threshold, and rounding all run in Spark SQL on those integers,
    so float semantics match the oracle bit-for-bit."""
    from ..operators.bitset import dictionary_ids, pair_survivors
    from ..operators.dedup import word_bigrams

    d = table(spark, sf_dir, "documents")
    sh = word_bigrams(d)
    gid = dictionary_ids(sh, "g")
    n_bits = gid.count()  # vocabulary size — dictionary-tier scalar
    n_docs = d.count()  # parquet-metadata count, no scan
    shi = sh.join(F.broadcast(gid), "g").select("doc_id", "gid")
    # integer size bound implied by jac >= 0.6 (the filter below)
    pairs = pair_survivors(
        {"bg": shi}, "doc_id", "bg",
        lambda inter, sz1, sz2, least, greatest: (
            5 * least(sz1["bg"], sz2["bg"])
            >= 3 * greatest(sz1["bg"], sz2["bg"])),
        n_docs, n_bits,
    )
    jac = F.col("bg_inter").cast("double") / (
        F.col("bg_sz1") + F.col("bg_sz2") - F.col("bg_inter")
    )
    return pairs.filter(jac >= 0.6).select(
        "d1", "d2", F.round(jac, 4).alias("jac")
    )


@query(
    "embedding_centroid_by_label",
    "LLM-pipeline",
    oracle="""
    SELECT label, pos, round(avg(v), 4) + 0.0 AS avg_v
    FROM (
        SELECT label,
               unnest(generate_series(1, len(embedding))) AS pos,
               unnest(embedding) AS v
        FROM embeddings
    )
    GROUP BY 1, 2
    """,
)
def embedding_centroid_by_label(spark, sf_dir):
    """Per-label centroid vectors (the k-means / IVF-training step
    behind ivf_knn_bucketed), computed as a posexplode → (label, pos)
    aggregate so the work is one shuffle on a perfectly balanced
    composite key instead of a driver-side vector sum.  At 100 TB this
    is the scalable element-wise mean: 10 labels × 64 positions = 640
    cells regardless of row count, and the map-side partial aggregate
    collapses each partition to ≤640 rows before the exchange.  DuckDB
    oracle zips two equal-length ``unnest``s for ordinality (no
    WITH ORDINALITY in 1.0); Spark's 0-based posexplode is shifted to
    the 1-based oracle numbering.  ``+ 0.0`` after the round collapses
    IEEE negative zero (DuckDB's round keeps -0.0, Spark's does not —
    found as a real sf0.001 hash mismatch)."""
    e = table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).cast("long").alias("pos"))
        .agg((F.round(F.avg("v"), 4) + 0.0).alias("avg_v"))
    )


@query(
    "unigram_logprob_score",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), tf AS (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ), total AS (
        SELECT sum(c) AS n FROM tf
    ), scored AS (
        SELECT t.doc_id,
               CAST(round(ln(CAST(tf.c AS DOUBLE) / total.n), 6)
                    AS DECIMAL(18,6)) AS lp
        FROM toks t, tf, total
        WHERE t.tok = tf.tok
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(CAST(sum(lp) AS DECIMAL(38,6)) AS DOUBLE) AS sum_logprob
    FROM scored GROUP BY doc_id
    """,
)
def unigram_logprob_score(spark, sf_dir):
    """Unigram language-model quality score: each document's summed
    token log-probability under the corpus unigram distribution — the
    cheapest statistical 'perplexity' proxy a quality-filter stage
    runs before anything model-based.  Gibberish and boilerplate score
    low; the threshold consumer is a plain filter.

    Distributive by construction: the term-frequency table shuffles
    once on token (vocab-sized), the corpus total rides a 1-row
    broadcast, and per-token log-probs are rounded to DECIMAL(18,6)
    BEFORE summation so the per-doc sum is associative and
    engine-exact (double sums are shuffle-order-sensitive in the last
    ulp — SURVEY §7.3-H2)."""
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = tf.agg(F.sum("c").alias("n"))
    lp = (
        F.round(F.log(F.col("c").cast("double") / F.col("n")), 6)
        .cast("decimal(18,6)")
        .alias("lp")
    )
    scored = (
        toks.join(tf, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp)
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("lp").cast("decimal(38,6)").cast("double")
        .alias("sum_logprob"),
    )


# pq_adc_knn RETIRED in round 12 (round-11 VERDICT task 7, same
# precedent as ivf_kmeans_knn in round 11): its rows-only check was
# strictly dominated by ``pq_rerank_verified`` (same
# pq_train/pq_encode/pq_adc_topk operators in their production
# rerank-then-verify shape, but oracle-checked against the exact
# scorer).  The operators remain exercised by that query plus
# tests/test_operators.py::test_pq_* (planted-twin recall, per-vector
# code cardinality, monotone reconstruction error in k).


@query(
    "multimodal_feature_neardup",
    "LLM-pipeline/multimodal",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           TRUE AS twin_found_ok,
           TRUE AS pairs_valid_ok
    FROM documents
    WHERE doc_id < 200
    """,
)
def multimodal_feature_neardup(spark, sf_dir):
    """Cross-modality dedup composition: binary payloads → Arrow
    mapInPandas feature extraction (stubbed byte-histogram model, real
    batching/schema) → cosine near-dup pairs within sign-pattern cells
    — the image/audio dedup pipeline with the codec swapped for a
    deterministic stand-in, proving multimodal features flow into the
    SAME similarity operators the text embeddings use.  PROMOTED
    round 14 from rows-only to oracle-checked planted-twin verify
    (r13 VERDICT task 7, the ``bq_knn_recall_verified`` pattern): the
    HASHED rows are the media subset's exact per-doc payload byte
    census (DuckDB restates ``octet_length(encode(text))``); the
    Python-feature-dependent pair set rides two graded booleans.

    ``twin_found_ok`` — a byte-identical PLANTED twin of doc 0
    (synthetic id 1_000_000) is recovered through the full
    bucket-then-cosine path as exactly one pair with sim = 1.0 (a
    dedup pipeline that cannot find a byte-identical copy is broken).
    ``pairs_valid_ok`` — every reported pair is well-formed: ordered
    ids drawn from the subset ∪ the plant, similarity in
    [0.995, 1.0], and no self-pairs.  The deterministic ``doc_id <
    200`` subset replaces the old unordered ``limit(200)`` (same
    cost, reproducible census)."""

    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    media = mm.as_binary_media(d)
    planted = media.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "payload")
    feats = mm.media_rows(media.unionByName(planted), mm.extract_features,
                          mm.FEATURE_SCHEMA).select(
        F.col("doc_id").alias("vec_id"), F.col("feature").alias("embedding")
    )
    bucketed = feats.withColumn("bucket", sim.sign_bucket(F.col("embedding")))
    a = bucketed.select(
        F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"), "bucket"
    )
    b = bucketed.select(
        F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"), "bucket"
    )
    s = F.round(sim.cosine(F.col("e1"), F.col("e2")), 4)
    pairs = (
        a.join(b, ["bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", s.alias("sim"))
        .filter(F.col("sim") >= 0.995)
        .localCheckpoint()  # pair-set-sized; reused by both laws
    )
    n_docs = d.count()
    twin_ok = pairs.filter(
        (F.col("id1") == 0) & (F.col("id2") == 1000000)
        & (F.col("sim") == 1.0)
    ).count() == 1 or n_docs == 0
    bad = pairs.filter(
        ~(
            (F.col("id1") < F.col("id2"))
            & ((F.col("id1") < 200) | (F.col("id1") == 1000000))
            & ((F.col("id2") < 200) | (F.col("id2") == 1000000))
            & (F.col("sim") >= 0.995) & (F.col("sim") <= 1.0)
        )
    ).count()
    return d.select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.lit(bool(twin_ok)).alias("twin_found_ok"),
        F.lit(bool(bad == 0)).alias("pairs_valid_ok"),
    )


@query(
    "text_normalize_pipeline",
    "LLM-pipeline",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')) AS normalized,
           CAST(len(string_split(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
               ' +', ' ', 'g')), ' ')) AS INT) AS n_norm_tokens
    FROM documents
    WHERE doc_id < 2000
    """,
)
def text_normalize_pipeline(spark, sf_dir):
    """Canonical text normalization: lowercase → strip non-alphanumerics
    → collapse runs of spaces → trim, plus the resulting token count —
    the preprocessing pass dedup/fingerprint stages run FIRST so that
    case/punctuation variants hash identically.  Pure regexp
    expressions, whole-stage-codegen'd."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return d.select(
        "doc_id",
        norm.alias("normalized"),
        F.size(F.split(norm, " ")).alias("n_norm_tokens"),
    )


@query(
    "chunk_overlapping_windows",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t
        FROM documents WHERE doc_id < 1000
    ), starts AS (
        SELECT doc_id, t, g.s AS s
        FROM toks,
        LATERAL (SELECT unnest(generate_series(1, len(t), 25)) AS s) g
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(len(t[s : least(s + 49, len(t))])) AS BIGINT)
               AS chunk_token_sum,
           CAST(max(len(t[s : least(s + 49, len(t))])) AS BIGINT)
               AS max_chunk_len
    FROM starts
    GROUP BY doc_id
    """,
)
def chunk_overlapping_windows(spark, sf_dir):
    """Overlapping chunking for retrieval/training prep: 50-token
    windows at stride 25 (50% overlap) — chunk starts come from a
    per-doc ``sequence``, each chunk is a ``slice`` of the token
    array, all expression-level.  Accounting per doc (chunk count,
    summed chunk tokens incl. overlap, max chunk length) pins the
    exact chunk geometry against the oracle."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    starts = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(F.lit(1), F.size("t"), F.lit(25))
        ).alias("s"),
    )
    chunk_len = F.size(
        F.slice(
            F.col("t"),
            F.col("s"),
            F.least(F.lit(50), F.size("t") - F.col("s") + 1),
        )
    )
    return starts.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(chunk_len).alias("chunk_token_sum"),
        F.max(chunk_len).alias("max_chunk_len"),
    )


@query(
    "bigram_pmi_top",
    "LLM-pipeline",
    oracle="""
    WITH toks AS (
        SELECT doc_id, g.i AS i, t[g.i] AS tok, len(t) AS n
        FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g
    ), bg AS (
        SELECT a.tok AS w1, b.tok AS w2, count(*) AS c12
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND b.i = a.i + 1
        GROUP BY 1, 2
    ), uni AS (
        SELECT tok, count(*) AS c FROM toks GROUP BY tok
    ), tot AS (
        SELECT CAST(sum(c12) AS DOUBLE) AS n_bg FROM bg
    )
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
           round(ln((c12 / tot.n_bg)
                    / ((u1.c / tot.n_bg) * (u2.c / tot.n_bg))), 6) AS pmi
    FROM bg, tot
    JOIN uni u1 ON w1 = u1.tok
    JOIN uni u2 ON w2 = u2.tok
    WHERE c12 >= 20
    ORDER BY pmi DESC, w1, w2
    LIMIT 10
    """,
)
def bigram_pmi_top(spark, sf_dir):
    """Top-10 bigrams by pointwise mutual information — the
    co-occurrence statistic under embedding training and collocation
    mining: PMI = ln(p(w1,w2) / (p(w1)p(w2))), computed from exact
    integer counts so the only double math is one per-row formula
    (no FP aggregation to drift).  Unigram counts broadcast against
    the bigram table; min-count 20 suppresses noise."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("i", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    bg = (
        toks.select(
            F.col("tok").alias("w1"), F.lead("tok").over(w).alias("w2")
        )
        .filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )
    uni = toks.groupBy("tok").agg(F.count("*").alias("c"))
    tot = bg.agg(F.sum("c12").cast("double").alias("n_bg"))
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("c12") / F.col("n_bg"))
            / ((F.col("c1") / F.col("n_bg")) * (F.col("c2") / F.col("n_bg")))
        ),
        6,
    )
    return (
        bg.crossJoin(F.broadcast(tot))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .filter(F.col("c12") >= 20)
        .select("w1", "w2", "c12", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(10)
    )


@query(
    "neardup_jaccard_prefix",
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
def neardup_jaccard_prefix(spark, sf_dir):
    """Near-dup pairs by Jaccard >= 0.8 with PREFIX FILTERING — the
    lossless candidate pruning from the set-similarity-join literature
    (PPJoin family): under a global token order, two sets with
    J >= theta MUST share a token within each set's first
    ``|S| - ceil(theta*|S|) + 1`` tokens, so only that prefix is
    indexed for the candidate self-join.  With tokens ordered by
    ascending document frequency the prefix holds each doc's RAREST
    tokens, so candidate fan-out is tiny — and unlike the df-cap
    heuristic in ``dedup_near_jaccard``, pruning is exact by theorem,
    not by a tuned cap.  theta = 4/5 is kept in integer arithmetic
    (``ceil(4*sz/5) = (4*sz+4) div 5``) — a float 0.8 would
    occasionally round the prefix one token short and silently drop
    pairs.  Verify stage rejoins full token arrays (exact Jaccard).
    The oracle is the exact all-pairs formulation; equality with it
    proves losslessness end-to-end.

    Cost routing (round 10, closing the sweep tail): on THIS fixture
    the token vocabulary is 31, so even the rarest-token prefix index
    degenerates — every prefix token is shared by hundreds of docs and
    the candidate join materializes millions of duplicate rows before
    the distinct (the residual ~28 s).  kernel_fits routes such
    corpora to the packed-bitset blocked kernel (exact, same
    (inter, sz1, sz2) integers, threshold applied as integer algebra
    inside the kernel); the PPJoin prefix plan remains the route for
    healthy vocabularies, where the prefix theorem actually prunes —
    and stays pinned by the hypothesis losslessness pytest plus the
    forced-route twin test."""
    from ..operators.bitset import (
        blocked_pair_survivors,
        dictionary_ids,
        gid_sets,
        kernel_fits,
    )
    from ..operators.dedup import jaccard_prefix_candidates

    d = table(spark, sf_dir, "documents")
    doc_toks = d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    toks = doc_toks.select("doc_id", F.explode("toks").alias("tok"))
    gid = dictionary_ids(toks, "tok")
    n_bits = gid.count()
    n_docs = d.count()
    if kernel_fits(n_docs, n_bits):
        long = toks.join(F.broadcast(gid), "tok").select("doc_id", "gid")
        docs = gid_sets(long, "doc_id", "gid", "tk")

        def keep(inter, sz1, sz2, least, greatest):
            # J >= 4/5 as exact integers: 5*inter >= 4*(union)
            return inter["tk"] * 5 >= (sz1["tk"] + sz2["tk"]
                                       - inter["tk"]) * 4

        scored = blocked_pair_survivors(
            spark, docs, "doc_id", ["tk"], keep
        ).select(
            "d1", "d2",
            F.col("tk_inter").alias("inter"),
            F.col("tk_sz1").alias("sz1"),
            F.col("tk_sz2").alias("sz2"),
        )
    else:
        scored = jaccard_prefix_candidates(
            doc_toks, theta_num=4, theta_den=5
        )
    jac = F.col("inter").cast("double") / (
        F.col("sz1") + F.col("sz2") - F.col("inter")
    )
    return (
        scored.select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
    )


@query(
    "bm25_retrieval_topk",
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
    )
    SELECT doc_id,
           round(coalesce(max(CASE WHEN tok = 'vector' THEN c END), 0)
                 + coalesce(max(CASE WHEN tok = 'merge' THEN c END), 0)
                 + coalesce(max(CASE WHEN tok = 'stream' THEN c END), 0),
                 4) AS bm25
    FROM contrib
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def bm25_retrieval_topk(spark, sf_dir):
    """BM25 (k1=1.2, b=0.75) top-20 retrieval for a 3-term query —
    the standard lexical-retrieval scorer a training pipeline uses for
    quality-weighted sampling and eval-set retrieval baselines.

    Scale shape: the term filter prunes the exploded token stream to
    |query| terms BEFORE the tf aggregation, so the shuffle carries
    O(docs x query_terms) rows, never the full token stream; document
    frequencies (|query| rows) and the corpus length stats (1 row)
    broadcast; the final top-k is orderBy+limit =
    ``TakeOrderedAndProject`` (per-partition heaps), never a global
    sort.  Determinism: per-(doc, term) contributions are summed in a
    FIXED expression order via a pivot — a ``sum()`` over the three
    rows would be order-nondeterministic in floating point and could
    flip the 4-dp rounding (SURVEY §7.3-H2); ties break on doc_id
    (§7.3-H7)."""
    return bm25_scored(spark, sf_dir).orderBy(
        F.desc("bm25"), F.asc("doc_id")
    ).limit(20)


def bm25_scored(spark, sf_dir):
    """The full BM25-scored relation behind ``bm25_retrieval_topk``
    (every doc matching >= 1 query term, 4-dp-rounded score) — shared
    with the reciprocal-rank-fusion query, which ranks a deeper list
    than the top-20 contract row."""
    TERMS = ["vector", "merge", "stream"]
    k1, b = 1.2, 0.75
    d = table(spark, sf_dir, "documents")
    dls = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    )
    stats = dls.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n"),
    )
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok").isin(TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "tok",
            (
                F.log(
                    F.lit(1)
                    + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("c"),
        )
    )
    pivoted = contrib.groupBy("doc_id").pivot("tok", TERMS).agg(F.first("c"))
    score = F.round(
        F.coalesce(F.col("vector"), F.lit(0.0))
        + F.coalesce(F.col("merge"), F.lit(0.0))
        + F.coalesce(F.col("stream"), F.lit(0.0)),
        4,
    )
    return pivoted.select("doc_id", score.alias("bm25"))


@query(
    "multimodal_wav_downsample_stats",
    "LLM-pipeline/multimodal",
    oracle="""
    SELECT doc_id,
           CAST(((doc_id % 50) + 9) // 2 AS INT) AS n_samples,
           CAST(8000 AS INT) AS sample_rate,
           CAST((((doc_id % 50) + 9) // 2) / 8000.0 AS DOUBLE)
               AS duration_s,
           CAST(((doc_id % 300) - 150)
                + ((doc_id % 9) - 4) * ((((doc_id % 50) + 9) // 2) - 1)
                AS DOUBLE) AS mean_amp,
           CAST(greatest(
                    abs((doc_id % 300) - 150),
                    abs((doc_id % 300) - 150
                        + 2 * ((doc_id % 9) - 4)
                            * ((((doc_id % 50) + 9) // 2) - 1))
                ) AS INT) AS peak_amp
    FROM documents
    """,
)
def multimodal_wav_downsample_stats(spark, sf_dir):
    """REAL audio TRANSFORM, end-to-end: render a genuine 16 kHz PCM
    WAV per document, decode it, decimate by 2, RE-ENCODE at 8 kHz,
    then decode the NEW blob and emit its stats — two full
    decode/encode round trips through the pure-struct codec per
    document (operators/multimodal.downsample_wav), the
    sample-rate-normalization step of an audio training pipeline.

    The decimated ramp keeps a closed form (every 2nd sample of
    ``base + slope*i`` is ``base + 2*slope*j`` over
    ``m = ceil(n/2)`` samples: mean = base + slope*(m-1), an exact
    integer; peak = the larger endpoint magnitude), so the oracle
    predicts the POST-transform stats exactly — a mis-slice, a wrong
    header rate, or an off-by-one in the RIFF rewrite shifts a value
    and hash-fails.  ASSUMES doc_id >= 0 (bmp_law note)."""

    d = table(spark, sf_dir, "documents")
    halved = mm.media_rows(mm.render_media(d, mm.wav_law),
                           mm.downsample_wav, mm.MEDIA_SCHEMA)
    return mm.media_rows(halved, mm.extract_audio_stats,
                         mm.AUDIO_STATS_SCHEMA)


@query(
    "multimodal_bmp_resize_stats",
    "LLM-pipeline",
    oracle="""
    SELECT doc_id,
           CAST(4 AS BIGINT) AS width,
           CAST(3 AS BIGINT) AS height,
           CAST(12 * (doc_id % 200)
                + 3 * (((doc_id % 13) + 2) // 4
                       + (2 * ((doc_id % 13) + 2)) // 4
                       + (3 * ((doc_id % 13) + 2)) // 4)
                AS DOUBLE) / 12 AS mean_r,
           CAST(12 * (doc_id % 200)
                + 4 * (((doc_id % 7) + 2) // 3
                       + (2 * ((doc_id % 7) + 2)) // 3)
                AS DOUBLE) / 12 AS mean_g,
           CAST(doc_id % 200 AS DOUBLE) AS mean_b
    FROM documents
    """,
)
def multimodal_bmp_resize_stats(spark, sf_dir):
    """REAL image resize end-to-end, closing the north-star's resize
    step: render genuine 24-bpp BMPs, decode, nearest-neighbor
    resample to a fixed 4x3 (``src = (dst * src_dim) // dst_dim``
    index map), re-encode, decode AGAIN, and hash-match the decoded
    channel means against the closed form of the resample: the
    sampled columns are ``(i*w)//4`` and rows ``(j*h)//3``, so each
    mean is an exact rational of integer floor-divisions — the oracle
    predicts the post-resize pixels without ever seeing a byte.
    Channel sums accumulate in int64 and divide once by the exact
    12-pixel count on both sides.  Same Arrow mapInPandas shape as
    the decode queries: no shuffle, blobs never leave the executor."""

    d = table(spark, sf_dir, "documents")
    resized = mm.media_rows(
        mm.render_media(d, mm.bmp_law),
        functools.partial(mm.resize_image_real, width=4, height=3),
        mm.RESIZED_SCHEMA,
    )
    stats = mm.media_rows(resized.select("doc_id", "payload"),
                          mm.extract_image_stats, mm.IMAGE_STATS_SCHEMA)
    return stats.select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "mean_r",
        "mean_g",
        "mean_b",
    )


@query(
    "multimodal_temporal_scene_cuts",
    "LLM-pipeline",
    oracle="""
    WITH d AS (
        SELECT doc_id, f,
               abs(CAST((doc_id + (f + 1) * (f + 1)) % 200 AS BIGINT)
                   - CAST((doc_id + f * f) % 200 AS BIGINT)) AS dl
        FROM documents,
             unnest(range(0, (doc_id % 6) + 1)) AS t(f)
    )
    SELECT doc_id,
           CAST(count(*) FILTER (WHERE dl > 10) AS BIGINT) AS n_cuts,
           CAST(sum(dl) AS DOUBLE) / count(*) AS mean_abs_delta
    FROM d GROUP BY doc_id
    """,
)
def multimodal_temporal_scene_cuts(spark, sf_dir):
    """REAL video temporal analysis — the scene-cut detector of a
    video training pipeline: decode every frame of each rendered y4m
    clip, take consecutive-frame luma deltas, and report per clip the
    number of cuts (|Δ| > 10) and the mean absolute delta.  The
    quadratic-luma render variant makes the deltas vary and wrap per
    (doc, frame) — a mis-walk of FRAME markers, a skipped or
    duplicated frame, or a wrong plane slice all shift some delta and
    hash-fail.  The per-frame decode reuses sample_y4m_frames
    (every_n=1, one mapInPandas, fan-out inside the Arrow batch); the
    temporal differencing is a lag() window per doc on the DECODED
    rows — JVM-side, exactly how a real pipeline would window over
    extracted features.  Frame means are integers by construction, so
    the only division is the final exact mean (§7.3-H2)."""

    d = table(spark, sf_dir, "documents")
    frames = mm.media_rows(
        mm.render_media(d, functools.partial(mm.y4m_law, luma="quadratic")),
        functools.partial(mm.sample_y4m_frames, every_n=1),
        mm.FRAME_SAMPLE_SCHEMA,
    )
    w = Window.partitionBy("doc_id").orderBy("frame_no")
    deltas = (
        frames.withColumn(
            "dl",
            F.abs(
                F.col("mean_luma").cast("long")
                - F.lag(F.col("mean_luma").cast("long")).over(w)
            ),
        )
        .filter(F.col("dl").isNotNull())
    )
    return deltas.groupBy("doc_id").agg(
        F.count(F.when(F.col("dl") > 10, 1)).cast("long").alias("n_cuts"),
        (F.sum("dl").cast("double") / F.count("*")).alias("mean_abs_delta"),
    )


@query(
    "corpus_top_p_by_quality",
    "LLM-pipeline",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, lang,
               CAST(round(
                 0.5 * least(1.0, CAST(len(string_split(text, ' '))
                                       AS DOUBLE) / 100.0)
                 + 0.3 * (CAST(len(list_distinct(string_split(text, ' ')))
                               AS DOUBLE)
                          / len(string_split(text, ' ')))
                 + 0.2 * least(1.0, CAST({_hits_sql('en')} AS DOUBLE) * 5
                                    / len(string_split(text, ' '))),
                 6) AS DECIMAL(18,6)) AS score
        FROM documents
    ), ranked AS (
        SELECT lang, score,
               sum(score) OVER (PARTITION BY lang
                                ORDER BY score DESC, doc_id) AS cum,
               sum(score) OVER (PARTITION BY lang) AS tot
        FROM q
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(CAST(sum(score) AS DOUBLE) AS DOUBLE) AS kept_mass,
           CAST(CAST(max(tot) AS DOUBLE) AS DOUBLE) AS total_mass
    FROM ranked
    WHERE (cum - score) * 10 < tot * 9
    GROUP BY lang
    """,
)
def corpus_top_p_by_quality(spark, sf_dir):
    """Top-p (nucleus) corpus selection — the data-curation rule that
    keeps, per language, the SMALLEST highest-quality prefix holding
    >= 90% of the total quality mass (keep while the mass BEFORE the
    doc is under the bar, so the crossing doc is included).  Scores
    are quantized to DECIMAL(18,6) (they are round(_,6) doubles on
    both engines already), so the cumulative sums, the 90% bar —
    cleared of its denominator as (cum−score)·10 < tot·9 — and the
    kept set are all EXACT decimal comparisons: no float decides
    membership.  The ordering tie-break is doc_id (§7.3-H7).  Scale:
    one shuffle on lang drives both windows and the rollup; per-lang
    partitions are corpus-fraction-sized, the same shape as every
    per-lang curation pass."""
    from ..operators import text as tx2

    d = table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id",
        "lang",
        tx2.quality_score(F.col("text")).cast("decimal(18,6)").alias("score"),
    )
    wcum = Window.partitionBy("lang").orderBy(F.desc("score"), F.asc("doc_id"))
    wall = Window.partitionBy("lang")
    ranked = q.select(
        "lang",
        "score",
        F.sum("score").over(wcum).alias("cum"),
        F.sum("score").over(wall).alias("tot"),
    )
    return (
        ranked.filter((F.col("cum") - F.col("score")) * 10 < F.col("tot") * 9)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("score").cast("double").alias("kept_mass"),
            F.max("tot").cast("double").alias("total_mass"),
        )
    )


@query(
    "dedup_rate_by_source",
    "LLM-pipeline",
    oracle="""
    WITH keyed AS (
        SELECT source, md5(text) AS k FROM documents
    ), grp AS (
        SELECT source, k, CAST(count(*) AS BIGINT) AS c
        FROM keyed GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(c) - count(*) AS BIGINT) AS n_redundant,
           CAST(CAST(sum(c) - count(*) AS DOUBLE) / sum(c) AS DOUBLE)
               AS dup_rate
    FROM grp
    GROUP BY source
    """,
)
def dedup_rate_by_source(spark, sf_dir):
    """Per-source exact-duplicate rate — the curation dashboard number
    that decides which sources get the aggressive dedup budget: docs
    whose exact text already appeared within the same source are
    redundant; rate = redundant/total.  Keys are md5 digests (16-byte
    shuffle keys, the dedup_exact_digest discipline), the group-size
    aggregate is two map-side-combining groupBys, and the one double
    division happens on exact BIGINTs at the end."""
    d = table(spark, sf_dir, "documents")
    grp = d.select("source", F.md5("text").alias("k")).groupBy(
        "source", "k"
    ).agg(F.count("*").alias("c"))
    return grp.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count("*").alias("n_distinct"),
        (F.sum("c") - F.count("*")).cast("long").alias("n_redundant"),
        (
            (F.sum("c") - F.count("*")).cast("double")
            / F.sum("c").cast("double")
        ).alias("dup_rate"),
    )


@query(
    "multimodal_gif_decode_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               (doc_id % 11) + 2 AS w,
               (doc_id % 5) + 2 AS h,
               doc_id % 200 AS base
        FROM documents
    ), idx AS (
        -- sum of (x % 4) for x in [0, w): 6 per full cycle of 4 plus
        -- the 0/0/1/3 partial-cycle tail
        SELECT *,
               6 * (w // 4) + CASE w % 4 WHEN 0 THEN 0 WHEN 1 THEN 0
                                         WHEN 2 THEN 1 ELSE 3 END AS fw
        FROM law
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(base * w * h + 17 * fw * h AS DOUBLE) / (w * h) AS mean_r,
           CAST(base * w * h + 5 * fw * h AS DOUBLE) / (w * h) AS mean_g,
           CAST(base * w * h + fw * h AS DOUBLE) / (w * h) AS mean_b
    FROM idx
    """,
)
def multimodal_gif_decode_stats(spark, sf_dir):
    """REAL compressed-image decode, end-to-end (round-9 VERDICT task
    6 — the first ENTROPY-CODED format on the in-container codec
    path): render a genuine single-image GIF87a per document
    (variable-width LZW codes, clear/EOI, sub-block framing, global
    color table — operators/multimodal.encode_gif87a), then decode the
    BYTES back with the pure-numpy LZW decoder (decode_gif87a) and
    emit decoded width/height/per-channel means inside Arrow-batched
    mapInPandas.  The palette/index law is a closed form of ``doc_id``
    (gif_law), so the DuckDB oracle predicts the DECODED
    pixel stats exactly: any mis-read of the code-width schedule, the
    KwKwK case, sub-block boundaries, or the palette mapping shifts a
    mean and hash-fails.  Channel sums are int64 with one exact
    division (§7.3-H2-safe)."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.gif_law),
        mm.extract_image_stats, mm.IMAGE_STATS_SCHEMA)


@query(
    "multimodal_gif_anim_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               (doc_id % 3) + 2 AS n,
               (doc_id % 7) + 2 AS w,
               (doc_id % 4) + 2 AS h,
               doc_id % 200 AS base
        FROM documents
    ), sums AS (
        SELECT *,
               (doc_id % 4) + ((doc_id + 1) % 4)
                 + CASE WHEN n >= 3 THEN (doc_id + 2) % 4 ELSE 0 END
                 + CASE WHEN n >= 4 THEN (doc_id + 3) % 4 ELSE 0 END
                 AS sumidx,
               (doc_id % 7) + ((doc_id + 1) % 7)
                 + CASE WHEN n >= 3 THEN (doc_id + 2) % 7 ELSE 0 END
                 + CASE WHEN n >= 4 THEN (doc_id + 3) % 7 ELSE 0 END
                 AS sum7
        FROM law
    )
    SELECT doc_id,
           CAST(n AS INT) AS n_frames,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(3 * n + sum7 AS BIGINT) AS total_delay_cs,
           CAST((base * n + 17 * sumidx) * w * h AS DOUBLE) / (n * w * h)
               AS mean_r,
           CAST((base * n + 5 * sumidx) * w * h AS DOUBLE) / (n * w * h)
               AS mean_g,
           CAST((base * n + sumidx) * w * h AS DOUBLE) / (n * w * h)
               AS mean_b
    FROM sums
    """,
)
def multimodal_gif_anim_stats(spark, sf_dir):
    """ANIMATED GIF decode, end-to-end (round-11 VERDICT task 8 —
    extends the round-10 single-image GIF row to the multi-frame
    GIF89a grammar): render a genuine animated GIF per document
    (NETSCAPE2.0 loop extension, per-frame Graphic Control Extension
    carrying centisecond delays, one LZW-coded full-screen image per
    frame — operators/multimodal.encode_gif89a_animated), walk it
    back frame by frame with the pure-numpy decoder
    (decode_gif_frames), and emit per-doc frame count, dimensions,
    TOTAL animation delay, and mean RGB across every frame's pixels
    inside Arrow-batched mapInPandas.  The frame/palette/delay law is
    a closed form of ``doc_id`` (gif_anim_law), so the
    oracle predicts every decoded quantity exactly: a mis-parsed GCE,
    a dropped frame, a delay mis-attributed across frames, or any
    LZW slip shifts a value and hash-fails.  The oracle mirrors the
    engine's exact integer-sum-then-one-division arithmetic
    (§7.3-H2)."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.gif_anim_law),
        mm.extract_gif_anim_stats, mm.GIF_ANIM_STATS_SCHEMA)


@query(
    "ivf_kmeans_recall_verified",
    "LLM-pipeline",
    oracle="""
    WITH q AS (
        SELECT embedding AS qe,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM (SELECT unnest(embedding) AS x)) AS qq
        FROM embeddings WHERE vec_id = 0
    ), sims AS (
        SELECT e.vec_id,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                FROM (SELECT unnest(e.embedding) AS x, unnest(q.qe) AS y))
                 AS dot,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM (SELECT unnest(e.embedding) AS x)) AS dd,
               q.qq AS qq
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, round(dot / (sqrt(dd) * sqrt(qq)), 4) AS sim,
           TRUE AS quality_ok
    FROM sims
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
)
def ivf_kmeans_recall_verified(spark, sf_dir):
    """Oracle-checked twin of ``ivf_kmeans_knn`` (round-9 VERDICT task
    5): the exact brute-force cosine top-10 (the oracle-able half)
    JOINED with a quality assertion over the trained-k-means IVF
    probe — ``quality_ok`` is true iff the ANN top-10's summed
    similarity reaches 75 % of the exact top-10's.  Similarity MASS,
    not set recall, is the right bar on this fixture: the embeddings
    are near-uniform on the sphere (IVF's hardest case), so the probe
    legitimately swaps exact members for near-ties of almost equal
    similarity — set recall swings 0.3-0.9 across SFs while the mass
    ratio stays 0.82-0.96 at nprobe=2 (measured; nprobe=3 used here
    for margin).  The Lloyd fixpoint itself stays out of the hashed
    output, but its quality is now graded by the driver every time
    this row rotates in, not only by the in-process pytest harness.
    At 100 TB this is the standing eval job every ANN deployment runs
    against a sampled exact scorer."""
    from .llm_vector import cosine_scored

    exact = (
        cosine_scored(spark, sf_dir)
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )
    e = table(spark, sf_dir, "embeddings")
    cb = sim.kmeans_train(e, k=8, max_iterations=6)
    approx = sim.ivf_topk_kmeans(e, cb, query_id=0, k=10, nprobe=3)
    mass = (
        approx.agg(F.sum("sim").alias("ann_mass"))
        .crossJoin(exact.agg(F.sum("sim").alias("exact_mass")))
    )
    return exact.crossJoin(F.broadcast(mass)).select(
        "vec_id",
        "sim",
        (F.col("ann_mass") >= 0.75 * F.col("exact_mass")).alias("quality_ok"),
    )


@query(
    "multimodal_gif_resize_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id, (doc_id % 11) + 2 AS w, doc_id % 200 AS base
        FROM documents
    ), s AS (
        SELECT doc_id, base,
               (w // 4) % 4 + ((2 * w) // 4) % 4 + ((3 * w) // 4) % 4
                   AS sidx
        FROM law
    )
    SELECT doc_id,
           CAST(4 AS BIGINT) AS width,
           CAST(3 AS BIGINT) AS height,
           CAST(12 * base + 51 * sidx AS DOUBLE) / 12 AS mean_r,
           CAST(12 * base + 15 * sidx AS DOUBLE) / 12 AS mean_g,
           CAST(12 * base + 3 * sidx AS DOUBLE) / 12 AS mean_b
    FROM s
    """,
)
def multimodal_gif_resize_stats(spark, sf_dir):
    """Compressed-decode -> resize -> re-encode -> decode, end-to-end:
    render a REAL LZW GIF87a per document, decode it (entropy decode +
    palette mapping), nearest-neighbor resample to 4x3
    (``src = (dst * src_dim) // dst_dim``), re-encode as BMP, decode
    AGAIN and hash-match the channel means.  The GIF pixel law depends
    only on the column (``channel = base + k * (x % 4)``), so the
    post-resize mean is an exact rational of the sampled column
    indices ``(i*w)//4`` — the oracle predicts it without seeing a
    byte, through BOTH codecs and the resample.  Chains the whole
    multimodal path the north-star asks for (decode, transform,
    re-encode) in one partition-preserving mapInPandas pipeline."""

    d = table(spark, sf_dir, "documents")
    resized = mm.media_rows(
        mm.render_media(d, mm.gif_law),
        functools.partial(mm.resize_image_real, width=4, height=3),
        mm.RESIZED_SCHEMA,
    )
    stats = mm.media_rows(resized.select("doc_id", "payload"),
                          mm.extract_image_stats, mm.IMAGE_STATS_SCHEMA)
    return stats.select(
        "doc_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "mean_r",
        "mean_g",
        "mean_b",
    )


@query(
    "multimodal_png_decode_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               (doc_id % 9) + 2 AS w,
               (doc_id % 6) + 2 AS h,
               doc_id % 150 AS base
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h * base + 3 * h * ((w * (w - 1)) // 2)
                + 5 * w * ((h * (h - 1)) // 2) AS DOUBLE) / (w * h)
               AS mean_r,
           CAST(base + (w - 1) AS DOUBLE) AS mean_g,
           CAST(w * h * base + w * ((h * (h - 1)) // 2) AS DOUBLE)
               / (w * h) AS mean_b
    FROM law
    """,
)
def multimodal_png_decode_stats(spark, sf_dir):
    """REAL PNG decode, end-to-end — DEFLATE entropy coding through
    the stdlib zlib (no image library): render a genuine 8-bit
    truecolor PNG per document (chunk framing, CRC32 per chunk,
    scanline filters — even ids None, odd ids Up, so both
    reconstruction paths run), then decode the BYTES back
    (operators/multimodal.decode_png_rgb8: chunk walk with CRC
    verification, inflate, full five-filter unfiltering) and emit the
    decoded channel means inside Arrow-batched mapInPandas.  The pixel
    law is a closed form of ``doc_id``, so the DuckDB oracle predicts
    the DECODED stats exactly — a mis-reconstructed filter delta, a
    stride off-by-one, or a skipped CRC shifts a mean and hash-fails.
    With GIF/LZW this makes TWO real compressed formats in-container;
    JPEG stays gated (needs DCT+Huffman libraries)."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.png_law),
        mm.extract_image_stats, mm.IMAGE_STATS_SCHEMA)


@query(
    "pq_rerank_verified",
    "LLM-pipeline",
    oracle="""
    WITH q AS (
        SELECT embedding AS qe,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM (SELECT unnest(embedding) AS x)) AS qq
        FROM embeddings WHERE vec_id = 0
    ), sims AS (
        SELECT e.vec_id,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                FROM (SELECT unnest(e.embedding) AS x, unnest(q.qe) AS y))
                 AS dot,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM (SELECT unnest(e.embedding) AS x)) AS dd,
               q.qq AS qq
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, round(dot / (sqrt(dd) * sqrt(qq)), 4) AS sim,
           TRUE AS quality_ok
    FROM sims
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
)
def pq_rerank_verified(spark, sf_dir):
    """PQ ANN in its PRODUCTION shape (absorbed the retired rows-only
    ``pq_adc_knn`` in round 12) —
    coarse-shortlist-then-exact-rerank: ADC over 2-byte PQ codes
    retrieves a 50-candidate shortlist (scanning codes, never raw
    vectors), the shortlist alone is re-scored with exact cosine, and
    the reranked top-10's similarity mass must reach 75 % of the
    exact top-10's.  Raw 2-byte ADC@10 only captures ~0.34-0.44 of the
    exact mass on this near-uniform-sphere fixture (measured — 16
    bits for 64 dims is extreme compression and the fixture is ANN's
    hardest case); the 5x-shortlist rerank recovers 0.84-0.93, which
    is exactly why every deployed PQ system reranks.  As with
    ivf_kmeans_recall_verified, the hashed output is the exact top-10
    (oracle-able); the PQ pipeline's quality rides the boolean."""
    from .llm_vector import cosine_scored

    scored = cosine_scored(spark, sf_dir)
    exact = scored.orderBy(F.col("sim").desc(), F.col("vec_id")).limit(10)
    e = table(spark, sf_dir, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:
        return exact.withColumn("quality_ok", F.lit(True))
    dim = len(qrow.embedding)  # saves two first()-jobs in train/encode
    cb = sim.pq_train(e, m=4, k=16, max_iterations=4, dim=dim)
    codes = sim.pq_encode(e, cb, m=4, dim=dim)
    shortlist = sim.pq_adc_topk(
        codes, cb, list(qrow.embedding), k=50, m=4
    ).select("vec_id")
    reranked = (
        scored.join(F.broadcast(shortlist), "vec_id")
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )
    mass = (
        reranked.agg(F.sum("sim").alias("rr_mass"))
        .crossJoin(exact.agg(F.sum("sim").alias("exact_mass")))
    )
    return exact.crossJoin(F.broadcast(mass)).select(
        "vec_id",
        "sim",
        (F.col("rr_mass") >= 0.75 * F.col("exact_mass")).alias("quality_ok"),
    )


@query(
    "multimodal_jpeg_decode_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               (doc_id % 3) + 1 AS nbx,
               (doc_id % 2) + 1 AS nby,
               doc_id % 180 AS base
        FROM documents
    )
    SELECT doc_id,
           CAST(8 * nbx AS INT) AS width,
           CAST(8 * nby AS INT) AS height,
           CAST(nbx * nby * base
                + 7 * nby * ((nbx * (nbx - 1)) // 2)
                + 13 * nbx * ((nby * (nby - 1)) // 2) AS DOUBLE)
               / (nbx * nby) AS mean_luma
    FROM law
    """,
)
def multimodal_jpeg_decode_stats(spark, sf_dir):
    """REAL baseline JPEG decode, end-to-end — the THIRD compressed
    codec in-container (Huffman entropy coding + zigzag + DC
    prediction + 8x8 DCT, ITU-T T.81, pure numpy): render a genuine
    grayscale JPEG per document, decode the BYTES back
    (operators/multimodal.decode_jpeg_gray — marker walk, Annex-K
    Huffman tables, byte-unstuffing, dequant, IDCT) and emit decoded
    width/height/mean luma in Arrow-batched mapInPandas.  The fixture
    images are constant per 8x8 block, so their spectra are DC-only
    and the all-ones quantization table makes the lossy pipeline
    EXACT on them — the closed-form oracle predicts the decoded mean
    through the entire entropy-coded round trip; general images
    round-trip within +-1 (pytest).  Any Huffman mis-decode, DC
    prediction slip, zigzag transposition, or IDCT scale error shifts
    the mean and hash-fails.  Round 11: color (YCbCr 4:2:0) landed as
    ``multimodal_jpeg_color_stats``; progressive stays gated."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.jpeg_law),
        mm.extract_jpeg_stats, mm.JPEG_STATS_SCHEMA)


@query(
    "multimodal_jpeg_color_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               (doc_id % 7) + 3 AS w,
               (doc_id % 5) + 3 AS h,
               CAST(doc_id % 200 AS DOUBLE) AS r,
               CAST((doc_id * 7) % 200 AS DOUBLE) AS g,
               CAST((doc_id * 13) % 200 AS DOUBLE) AS b
        FROM documents
    ), ycc AS (
        SELECT doc_id, w, h,
               floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5) AS y,
               floor(128 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5)
                   AS cb,
               floor(128 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5)
                   AS cr
        FROM law
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           least(greatest(
               floor(y + 1.402 * (cr - 128) + 0.5), 0), 255) AS mean_r,
           least(greatest(
               floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
                     + 0.5), 0), 255) AS mean_g,
           least(greatest(
               floor(y + 1.772 * (cb - 128) + 0.5), 0), 255) AS mean_b
    FROM ycc
    """,
)
def multimodal_jpeg_color_stats(spark, sf_dir):
    """REAL color JPEG decode, end-to-end (round-10 VERDICT task 7):
    render a genuine JFIF YCbCr 4:2:0 baseline JPEG per document —
    two quantization tables, four Annex-K Huffman tables (luma +
    chroma), interleaved 16x16 MCUs (4 Y + Cb + Cr), per-component DC
    prediction — then decode the BYTES back
    (operators/multimodal.decode_jpeg_color) and emit decoded
    width/height and per-channel means in Arrow-batched mapInPandas.
    The fixture colors are constant per image and the color transforms
    quantize with explicit half-up rounding, so the ENTIRE lossy
    pipeline (RGB→YCbCr, 2x2 chroma box subsample, DCT, entropy code,
    and back) is exact on them: the oracle predicts the decoded means
    by running the same two color transforms in SQL, through identical
    IEEE-double expressions.  A wrong MCU interleave, a swapped
    chroma table, a mis-predicted per-component DC, or a broken
    upsample shifts a channel mean and hash-fails; general images
    round-trip within a pytest-pinned bound."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.jpeg_color_law),
        mm.extract_jpeg_color_stats, mm.JPEG_COLOR_STATS_SCHEMA)


@query(
    "multimodal_adpcm_decode_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               (doc_id % 3) + 1 AS nb,
               (doc_id % 100) * 250 - 12500 AS base
        FROM documents
    )
    SELECT doc_id,
           CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
           CAST(nb * 505 AS BIGINT) AS n_samples,
           CAST(nb * base + 311 * ((nb * (nb - 1)) // 2) AS DOUBLE) / nb
               AS mean_amp
    FROM law
    """,
)
def multimodal_adpcm_decode_stats(spark, sf_dir):
    """REAL compressed-AUDIO decode, end-to-end (round-10 VERDICT task
    7, audio half): render a genuine mono IMA-ADPCM WAV per document
    (format tag 0x0011 — 4-bit adaptive differential coding over the
    89-entry step table, per-block seed predictors, fact-chunk sample
    count), decode the BYTES back
    (operators/multimodal.decode_wav_ima_adpcm: RIFF walk, block
    header replay, nibble unpacking) and emit rate / count / mean
    amplitude in Arrow-batched mapInPandas.  The fixture signals are
    constant within each block, which the adaptive coder transmits as
    delta-0 nibbles — EXACT round-trip — so the closed-form oracle
    predicts the decoded mean through the 4:1-compressed container.
    A step-table walk error, nibble-order flip, block-boundary slip,
    or fact-count miss shifts the mean or count and hash-fails;
    arbitrary signals are pinned by the encoder-state == decoder-state
    fuzz invariant in pytest.  Fourth real compressed codec
    in-container (LZW GIF, DEFLATE PNG, Huffman+DCT JPEG, ADPCM)."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.adpcm_law),
        mm.extract_adpcm_stats, mm.ADPCM_STATS_SCHEMA)


@query(
    "multimodal_jpeg_progressive_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               (doc_id % 4) + 1 AS nbx,
               (doc_id % 3) + 1 AS nby,
               doc_id % 170 AS base
        FROM documents
    )
    SELECT doc_id,
           CAST(8 * nbx AS INT) AS width,
           CAST(8 * nby AS INT) AS height,
           CAST(nbx * nby * base
                + 5 * nby * ((nbx * (nbx - 1)) // 2)
                + 11 * nbx * ((nby * (nby - 1)) // 2) AS DOUBLE)
               / (nbx * nby) AS mean_luma
    FROM law
    """,
)
def multimodal_jpeg_progressive_stats(spark, sf_dir):
    """PROGRESSIVE JPEG decode, end-to-end (round-11 VERDICT task 8 —
    un-gates the mode the baseline decoder refuses): each document
    renders as a genuine 4-SCAN SOF2 stream — DC first pass at
    successive approximation Al=1, a DC refinement scan supplying the
    low bit, then two spectral-selection AC bands coded with the EOBn
    end-of-band run codes that only exist in progressive mode — and
    the pure-numpy scan accumulator (decode_jpeg_gray_progressive)
    walks every SOS, merges the partial coefficients, and IDCTs once
    at EOI.  Block-constant fixtures keep the lossy pipeline exact,
    so the oracle predicts the decoded mean through all four scans;
    on arbitrary images the progressive reconstruction is pytest-
    pinned BIT-IDENTICAL to the baseline decoder's (same spectra,
    different transport).  A mis-ordered scan, a dropped refinement
    bit, or a mis-counted EOB run shifts a mean and hash-fails."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.jpeg_progressive_law),
        mm.extract_jpeg_progressive_stats, mm.JPEG_STATS_SCHEMA)


@query(
    "multimodal_mulaw_decode_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               (((doc_id % 16) * 8 + 132) << (doc_id % 8)) - 132 AS mag,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END AS s
        FROM documents
    )
    SELECT doc_id,
           CAST(8000 * ((doc_id % 2) + 1) AS INT) AS sample_rate,
           CAST(800 + (doc_id % 3) * 400 AS BIGINT) AS n_samples,
           CAST(s * mag AS DOUBLE) AS mean_amp
    FROM law
    """,
)
def multimodal_mulaw_decode_stats(spark, sf_dir):
    """REAL telephony-codec decode, end-to-end (round 13): render a
    genuine mono G.711 mu-law WAV per document (format tag 0x0007 —
    the piecewise-log companding of every landline call: sign bit,
    3-bit segment, 4-bit mantissa, complemented on the wire), decode
    the BYTES back (operators/multimodal.decode_wav_mulaw: RIFF walk
    incl. odd-chunk padding, fmt validation, fact-count truncation,
    the ((mant<<3)+bias)<<seg - bias expansion) and emit rate / count
    / mean amplitude in Arrow-batched mapInPandas.  The render law
    puts each document's constant signal ON the mu-law codebook
    lattice, so the LOSSY companding round-trips it exactly and the
    closed-form oracle states the decoded mean through the 2:1
    container; a segment-shift slip, bias miss, or complement flip
    moves every decoded value and hash-fails.  Off-lattice signals
    are pinned by the companding-error fuzz bound in pytest.  Sixth
    real audio/image codec family in-container."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.mulaw_law),
        mm.extract_mulaw_stats, mm.MULAW_STATS_SCHEMA)


@query(
    "multimodal_tga_decode_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               (doc_id % 13) + 2 AS w,
               (doc_id % 7) + 2 AS h,
               doc_id % 200 AS base,
               ((doc_id % 13) + 2) // 4 AS q,
               ((doc_id % 13) + 2) % 4 AS r
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           -- ONE division of the exact integer numerator: float
           -- division is correctly rounded, so k/w here and the
           -- decoder's (h*k)/(w*h) are the SAME rational -> the same
           -- double (base + x/w would associate differently and
           -- drift a last bit)
           CAST(base * w + 8 * q * (q - 1) + 4 * q * r AS DOUBLE) / w
               AS mean_r,
           base + CAST(h - 1 AS DOUBLE) / 2 AS mean_g,
           CAST(base AS DOUBLE) AS mean_b
    FROM law
    """,
)
def multimodal_tga_decode_stats(spark, sf_dir):
    """REAL RLE-image decode, end-to-end (round 13): render a genuine
    type-10 (run-length-encoded true-color) TARGA per document — the
    18-byte header + run/raw packet stream + BGR order + bottom-up
    origin of the classic games/VFX format — then decode the BYTES
    back (operators/multimodal.decode_tga_rle: header walk, packet
    replay, BGR swap, descriptor-bit-5 flip) and emit dimensions +
    exact channel means in Arrow-batched mapInPandas.  The pixel law
    (horizontal 4-pixel R bands over a per-row G gradient) forces
    BOTH packet kinds through the encoder — runs inside each band,
    raws at band remainders — and keeps the channel means closed-form
    for the oracle: a run-length off-by-one, packet-boundary slip,
    BGR order flip, or forgotten vertical flip shifts a mean and
    hash-fails.  Arbitrary images are pinned by the round-trip fuzz
    in pytest."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.tga_law),
        mm.extract_tga_stats, mm.TGA_STATS_SCHEMA)


@query(
    "sq8_knn_recall_verified",
    "LLM-pipeline",
    oracle="""
    WITH q AS (
        SELECT embedding AS qe,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM (SELECT unnest(embedding) AS x)) AS qq
        FROM embeddings WHERE vec_id = 1
    ), sims AS (
        SELECT e.vec_id,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                FROM (SELECT unnest(e.embedding) AS x, unnest(q.qe) AS y))
                 AS dot,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM (SELECT unnest(e.embedding) AS x)) AS dd,
               q.qq AS qq
        FROM embeddings e, q
        WHERE e.vec_id <> 1
    )
    SELECT vec_id, round(dot / (sqrt(dd) * sqrt(qq)), 4) AS sim,
           TRUE AS quality_ok
    FROM sims
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
)
def sq8_knn_recall_verified(spark, sf_dir):
    """int8 SCALAR-QUANTIZED ANN, recall-verified (round 13 — the
    third rung of the compression ladder next to IVF and PQ): every
    float32 dimension compresses to one signed byte under a
    per-dimension symmetric scale (operators/similarity.sq8_*, the
    4x footprint cut every large-corpus vector store takes first),
    and scoring runs entirely JVM-side over the CODES — the
    full-precision vectors never participate.

    Verification follows the ``ivf_kmeans_recall_verified`` pattern:
    the hashed rows are the EXACT brute-force cosine top-10 for query
    vec_id=1 (restated by the oracle from raw arrays);
    ``quality_ok`` grades that the SQ8 top-10's summed similarity
    reaches 97% of the exact top-10's — scalar quantization is
    near-lossless on this fixture (measured mass ratio > 0.999 at
    all three SFs), so the bar is deliberately tighter than IVF's
    75% probe bound.  The scale vector is d scalars on the driver;
    training is one posexplode MAX — nothing corpus-sized leaves the
    executors."""
    from .llm_vector import cosine_scored

    e = table(spark, sf_dir, "embeddings")
    # ONE driver fetch of the query row (was first() + limit(1).count(),
    # two jobs), and the query self-norm hoisted driver-side
    qrow = e.filter(F.col("vec_id") == 1).first()
    exact = (
        e.filter(F.col("vec_id") != 1)
        .select(
            "vec_id",
            F.round(sim.cosine_vs_lit(F.col("embedding"),
                                      qrow["embedding"]), 4).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    ) if qrow is not None else (
        e.select("vec_id", F.lit(0.0).alias("sim")).limit(0)
    )
    scales = sim.sq8_train(e)
    approx = sim.sq8_topk(e, scales, query_id=1, k=10)
    mass = (
        approx.agg(F.sum("sim").alias("ann_mass"))
        .crossJoin(exact.agg(F.sum("sim").alias("exact_mass")))
    )
    return exact.crossJoin(F.broadcast(mass)).select(
        "vec_id", "sim",
        (F.col("ann_mass") >= 0.97 * F.col("exact_mass"))
        .alias("quality_ok"),
    )


@query(
    "multimodal_qoi_decode_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               (doc_id % 11) + 3 AS w,
               (doc_id % 5) + 2 AS h,
               doc_id % 193 AS base,
               ((doc_id % 11) + 3) // 3 AS q,
               ((doc_id % 11) + 3) % 3 AS rw,
               ((doc_id % 5) + 2) // 2 AS m,
               ((doc_id % 5) + 2) % 2 AS rh
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           TRUE AS compressed_ok,
           -- one correctly-rounded division of the exact integer
           -- numerator: the decoder's (h*k)/(w*h) is the same
           -- rational as k/w -> the same double (SURVEY §7.3-H2)
           CAST(base * w + 3 * q * (q - 1) + 2 * rw * q AS DOUBLE) / w
               AS mean_r,
           CAST(base * h + 2 * (m * (m - 1) + rh * m) AS DOUBLE) / h
               AS mean_g,
           CAST(base AS DOUBLE) AS mean_b
    FROM law
    """,
)
def multimodal_qoi_decode_stats(spark, sf_dir):
    """REAL QOI decode, end-to-end (round 13 — the 2021 "Quite OK
    Image" lossless format, qoiformat.org): render a genuine QOI file
    per document — 14-byte header, running previous-pixel + 64-slot
    hash index, RUN / INDEX / DIFF / LUMA / RGB op stream, 8-byte end
    marker — then decode the BYTES back
    (operators/multimodal.decode_qoi) and emit dimensions, a
    compression receipt (op count strictly below pixel count: the
    render law guarantees RUN and INDEX chunks fire for every image)
    and exact channel means in Arrow-batched mapInPandas.  The pixel
    law (3-pixel R bands over paired-row G) routes ALL FIVE op kinds
    through the encoder: a wrapped-delta sign error, LUMA nibble
    swap, stale hash slot, or run off-by-one shifts a mean or the
    receipt and hash-fails.  Arbitrary images are pinned by the
    round-trip fuzz in pytest (RGB-heavy, run-heavy, delta-heavy,
    palette-heavy corpora + the >62-pixel run flush)."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.qoi_law),
        mm.extract_qoi_stats, mm.QOI_STATS_SCHEMA)


@query(
    "bq_knn_recall_verified",
    "LLM-pipeline",
    oracle="""
    WITH q AS (
        SELECT embedding AS qe,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM (SELECT unnest(embedding) AS x)) AS qq
        FROM embeddings WHERE vec_id = 1
    ), sims AS (
        SELECT e.vec_id,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                FROM (SELECT unnest(e.embedding) AS x, unnest(q.qe) AS y))
                 AS dot,
               (SELECT sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                FROM (SELECT unnest(e.embedding) AS x)) AS dd,
               q.qq AS qq
        FROM embeddings e, q
        WHERE e.vec_id <> 1
    )
    SELECT vec_id, round(dot / (sqrt(dd) * sqrt(qq)), 4) AS sim,
           TRUE AS quality_ok
    FROM sims
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
)
def bq_knn_recall_verified(spark, sf_dir):
    """1-BIT BINARY-QUANTIZED ANN, recall-verified (round 13 — the
    bottom rung of the compression ladder under IVF / PQ / SQ8): every
    dimension keeps ONLY its sign, packed 32 dims per long
    (operators/similarity.bq_*, a 32x footprint cut), the scan phase
    is XOR+popcount over packed longs against the ONE broadcast query
    code — the cheapest vector scan that exists, two long ops per 32
    dims in whole-stage codegen — and the 128 Hamming-nearest
    candidates are reranked with the EXACT full-precision cosine, so
    when the candidate set contains the true top-10 the answer is
    bit-identical to brute force (the recall knob is the candidate
    count, never a score approximation — the SimHash bound
    sim ≈ cos(π·ham/d) only has to get the shortlist right).

    The hashed rows are the exact brute-force cosine top-10 for
    vec_id=1 (restated by the oracle from raw arrays);
    ``quality_ok`` grades that the BQ shortlist's reranked top-10
    reaches 93% of the exact top-10's summed similarity — measured
    floors at 128 candidates: 0.95 / 1.00 / 0.95 at the three SFs, so
    the bar has margin without being vacuous.  At 100 TB the packed
    codes (1/32 of the corpus bytes) are what stays executor-resident;
    the float vectors are touched for 128 rows per query."""
    from ..operators import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    qrow = e.filter(F.col("vec_id") == 1).first()
    if qrow is None:
        return e.select(
            "vec_id", F.lit(0.0).alias("sim"),
            F.lit(True).alias("quality_ok")).limit(0)
    exact = (
        e.filter(F.col("vec_id") != 1)
        .select("vec_id",
                F.round(sim.cosine_vs_lit(F.col("embedding"),
                                          qrow["embedding"]), 4)
                .alias("sim"))
        .orderBy(F.col("sim").desc(), F.col("vec_id"))
        .limit(10)
    )
    dim = len(qrow["embedding"])
    approx = sim.bq_topk(e, dim, query_id=1, k=10, candidates=128)
    mass = (
        approx.agg(F.sum("sim").alias("ann_mass"))
        .crossJoin(exact.agg(F.sum("sim").alias("exact_mass")))
    )
    return exact.crossJoin(F.broadcast(mass)).select(
        "vec_id", "sim",
        (F.col("ann_mass") >= 0.93 * F.col("exact_mass"))
        .alias("quality_ok"),
    )


@query(
    "pca_covariance_eigen",
    "LLM-pipeline",
    oracle="""
    WITH e AS (
        SELECT unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS pos
        FROM embeddings
    )
    SELECT CAST(pos - 1 AS INT) AS dim_pos,
           round(sum(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) / count(*)
                 - (sum(CAST(x AS DOUBLE)) / count(*))
                   * (sum(CAST(x AS DOUBLE)) / count(*)), 6) AS variance,
           TRUE AS trace_ok,
           TRUE AS orthonormal_ok,
           TRUE AS monotone_ok,
           TRUE AS psd_ok
    FROM e
    GROUP BY pos
    """,
)
def pca_covariance_eigen(spark, sf_dir):
    """PCA over the embedding corpus — distributed covariance, exact
    eigenstructure (round 13): one Arrow ``mapInPandas`` pass folds
    per-partition Gram partials (a BLAS ``XᵀX`` per batch), the
    partition-count-sized partials reduce on the driver into the
    64×64 covariance, and ``numpy.eigh`` gives the principal axes —
    the canonical split of labor for 100 TB dimensionality reduction
    (the scan is the only corpus-sized work; the eigensolve is d³ on
    a matrix that fits in a cache line).

    Grading is sketch-then-verify: the HASHED rows are the per-
    dimension variances — the covariance DIAGONAL, restated by the
    oracle from raw arrays with the token-identical Σx²/n − (Σx/n)²
    expression, round 6 — and four booleans pin the eigensolve to
    that same matrix: ``trace_ok`` (Σλ equals the hashed diagonal's
    sum to 1e-9 relative — eigenvalue mass is variance mass),
    ``orthonormal_ok`` (max|QᵀQ − I| ≤ 1e-8), ``monotone_ok``
    (λ descending), ``psd_ok`` (λ_min ≥ −1e-10: a covariance is PSD,
    a negative eigenvalue means the Gram algebra broke).  The
    deliberately-ungraded part is the eigenBASIS itself (sign/order
    conventions differ across LAPACK builds — the round-12 PageRank
    lesson: grade invariants, not conventions)."""
    import numpy as np

    from ..operators import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    first = e.select(F.size("embedding").alias("d")).first()
    schema = ("dim_pos int, variance double, trace_ok boolean, "
              "orthonormal_ok boolean, monotone_ok boolean, "
              "psd_ok boolean")
    if first is None:
        return spark.createDataFrame([], schema)
    dim = int(first.d)
    n, mean, cov = sim.covariance_gram(e, dim)
    if n == 0:
        return spark.createDataFrame([], schema)
    w, v = sim.pca_eigh(cov)
    tr = float(np.trace(cov))
    trace_ok = abs(float(w.sum()) - tr) <= 1e-9 * max(abs(tr), 1.0)
    ortho = float(np.max(np.abs(v.T @ v - np.eye(dim))))
    orthonormal_ok = ortho <= 1e-8
    monotone_ok = bool(np.all(np.diff(w) <= 1e-12))
    psd_ok = bool(w.min() >= -1e-10)
    rows = [(i, round(float(cov[i, i]), 6), bool(trace_ok),
             bool(orthonormal_ok), bool(monotone_ok), bool(psd_ok))
            for i in range(dim)]
    return spark.createDataFrame(rows, schema)


@query(
    "lm_dirichlet_retrieval_topk",
    "LLM-pipeline",
    oracle="""
    WITH dls AS (
        SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        FROM documents
    ), coll AS (
        SELECT CAST(sum(dl) AS BIGINT) AS c_len FROM dls
    ), cf AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS cf
        FROM (SELECT unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok IN ('vector', 'merge', 'stream')
        GROUP BY 1
    ), tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        WHERE tok IN ('vector', 'merge', 'stream')
        GROUP BY 1, 2
    ), wide AS (
        SELECT d.doc_id, d.dl,
               coalesce(max(CASE WHEN t.tok = 'vector' THEN t.tf END), 0)
                   AS tf_v,
               coalesce(max(CASE WHEN t.tok = 'merge' THEN t.tf END), 0)
                   AS tf_m,
               coalesce(max(CASE WHEN t.tok = 'stream' THEN t.tf END), 0)
                   AS tf_s
        FROM dls d LEFT JOIN tf t USING (doc_id)
        GROUP BY d.doc_id, d.dl
    ), cfw AS (
        SELECT coalesce(max(CASE WHEN tok = 'vector' THEN cf END), 0)
                   AS cf_v,
               coalesce(max(CASE WHEN tok = 'merge' THEN cf END), 0)
                   AS cf_m,
               coalesce(max(CASE WHEN tok = 'stream' THEN cf END), 0)
                   AS cf_s
        FROM cf
    )
    SELECT doc_id,
           round(ln((tf_v + 2000.0 * cf_v / c_len) / (dl + 2000.0))
                 + ln((tf_m + 2000.0 * cf_m / c_len) / (dl + 2000.0))
                 + ln((tf_s + 2000.0 * cf_s / c_len) / (dl + 2000.0)), 4)
               AS loglik
    FROM wide, coll, cfw
    WHERE c_len > 0 AND cf_v > 0 AND cf_m > 0 AND cf_s > 0
    ORDER BY loglik DESC, doc_id
    LIMIT 20
    """,
)
def lm_dirichlet_retrieval_topk(spark, sf_dir):
    """QUERY-LIKELIHOOD retrieval with DIRICHLET smoothing (μ=2000) —
    the language-modeling ranker next to the graded BM25: score(d) =
    Σ_t ln((tf + μ·cf_t/|C|) / (dl + μ)).  Unlike BM25 every document
    scores against every query term (absent terms fall back to the
    collection model — that fallback IS the smoothing), so the wide
    frame is a LEFT join of the doc-length dictionary against the
    term-pruned tf rows; the collection stats (1 row) and the 3-term
    cf pivot (1 row) broadcast.  Same scale shape as BM25 (shuffle
    carries O(docs × query_terms), top-k is TakeOrdered), same
    determinism seams (pivot-fixed summand order, round 4, doc_id
    ties).  Degenerate corpora (a query term absent everywhere) drop
    the whole result on both engines rather than rank on -inf."""
    d = table(spark, sf_dir, "documents")
    terms = ["vector", "merge", "stream"]
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok"))
    dls = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("dl"))
    pruned = toks.filter(F.col("tok").isin(terms))
    tf = pruned.groupBy("doc_id").pivot("tok", terms).count().na.fill(0)
    cf = pruned.groupBy("tok").agg(F.count("*").alias("cf"))
    cf_map = {r.tok: int(r.cf) for r in cf.collect()}  # <=3 rows
    c_len = dls.agg(F.sum("dl")).first()[0]
    if not c_len or any(cf_map.get(t, 0) == 0 for t in terms):
        return spark.createDataFrame([], "doc_id long, loglik double")
    wide = dls.join(tf, "doc_id", "left").na.fill(0)
    mu = 2000.0
    summand = None
    for t in terms:
        c = F.log((F.col(t).cast("double")
                   + mu * cf_map[t] / float(c_len))
                  / (F.col("dl").cast("double") + mu))
        summand = c if summand is None else summand + c
    return (
        wide.select("doc_id", F.round(summand, 4).alias("loglik"))
        .orderBy(F.desc("loglik"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "multimodal_flac_decode_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               200 + (doc_id % 4) * 100 AS n,
               (doc_id % 50) * 20 AS a,
               doc_id % 3 AS s
        FROM documents
        WHERE doc_id % 3 = 0
    )
    SELECT doc_id,
           CAST(n AS INT) AS n_samples,
           CAST(8000 * ((doc_id % 2) + 1) AS INT) AS sample_rate,
           TRUE AS compressed_ok,
           -- exact integer numerator, one correctly-rounded division:
           -- the period-5 wobble contributes mean exactly 2 (n ≡ 0
           -- mod 5), cancelling its -2 bias
           CAST(a * n + s * n * (n - 1) // 2 AS DOUBLE) / n AS mean_amp
    FROM law
    """,
)
def multimodal_flac_decode_stats(spark, sf_dir):
    """REAL FLAC decode, end-to-end (round 13 — the PREDICTIVE +
    PARAMETRIC-ENTROPY codec class, new next to the suite's LZW /
    DEFLATE / DCT / companding rows): render a genuine subset-FLAC
    stream per document — "fLaC" marker, STREAMINFO carrying the true
    audio MD5, sync-coded frame headers with CRC-8, the best FIXED
    polynomial predictor (order 0-4), Golomb-Rice residuals, CRC-16
    frame footers — then decode the BYTES back
    (operators/multimodal.decode_flac), which verifies ALL THREE
    integrity layers the format defines before emitting dimensions,
    a compression receipt (prediction+Rice beat half the raw PCM
    size: the ramp law makes order 1-2 residuals tiny) and the exact
    signal mean.  A predictor-coefficient slip, Rice zigzag error,
    CRC polynomial typo, or UTF-8 frame-number misparse kills the
    decode or shifts the mean and hash-fails.  Arbitrary signals
    (noise, sines, constants, empty, 1-sample) are pinned by the
    round-trip fuzz in pytest."""

    # every 3rd document: the codec is pure-Python bit I/O (~2.5 ms
    # per blob), and the row grades CORRECTNESS, not throughput — the
    # subset keeps its sweep cost proportionate to the other codec rows
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    return mm.media_rows(
        mm.render_media(d, mm.flac_law),
        mm.extract_flac_stats, mm.FLAC_STATS_SCHEMA)


@query(
    "multimodal_png_interlaced_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               (doc_id % 9) + 2 AS w,
               (doc_id % 6) + 2 AS h,
               doc_id % 150 AS base
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(w * h * base + 3 * h * ((w * (w - 1)) // 2)
                + 5 * w * ((h * (h - 1)) // 2) AS DOUBLE) / (w * h)
               AS mean_r,
           CAST(base + (w - 1) AS DOUBLE) AS mean_g,
           CAST(w * h * base + w * ((h * (h - 1)) // 2) AS DOUBLE)
               / (w * h) AS mean_b,
           TRUE AS interlaced_ok,
           TRUE AS progressive_ok
    FROM law
    """,
)
def multimodal_png_interlaced_stats(spark, sf_dir):
    """ADAM7-INTERLACED PNG decode, end-to-end (round 14 — the
    progressive-transmission class for PNG, next to the progressive
    JPEG row): render a genuine interlace=1 PNG per document (seven
    Adam7 sub-images, each pass filtered independently — even ids
    None, odd ids Up — concatenated into one DEFLATE stream), then
    decode the BYTES back (``decode_png_adam7_passes``: chunk walk +
    CRC, inflate, per-pass five-filter unfiltering, spec-grid
    scatter) inside Arrow-batched mapInPandas.  The hashed rows are
    the decoded channel means, predicted in closed form by the SAME
    pixel-law oracle as the sequential PNG row — so the two rows
    together pin that interlacing reorders BYTES, never pixels.
    ``interlaced_ok`` grades the container (IHDR interlace=1; the
    seven pass grids tile each image exactly once); ``progressive_ok``
    grades the point of Adam7 (block-filled preview error is zero
    after pass 7 and non-increasing across the 1 -> 4 -> 7
    milestones).  At 100 TB the shape is the standard codec posture:
    blobs decode executor-side, one Arrow batch at a time, and never
    shuffle."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.png_adam7_law),
        mm.extract_png_interlaced_stats, mm.INTERLACED_STATS_SCHEMA)


@query(
    "multimodal_tiff_packbits_stats",
    "LLM-pipeline",
    oracle="""
    WITH law AS (
        SELECT doc_id,
               (doc_id % 10) + 3 AS w,
               (doc_id % 6) + 2 AS h,
               doc_id % 180 AS base,
               ((doc_id % 6) + 2 + 1) // 2 AS he,
               ((doc_id % 6) + 2) // 2 AS ho
        FROM documents
    )
    SELECT doc_id,
           CAST(w AS INT) AS width,
           CAST(h AS INT) AS height,
           CAST(2 * w * (he * base + 2 * he * (he - 1))
                + ho * (2 * w * base + 3 * w * (w - 1)) AS DOUBLE)
               / (2 * w * h) AS mean_r,
           CAST(w * (he * base + 2 * he * (he - 1))
                + ho * (w * base + w * (w - 1)) AS DOUBLE)
               / (w * h) AS mean_g,
           CAST(w * (he * base + 2 * he * (he - 1))
                + ho * w * base + w * ho * ho AS DOUBLE)
               / (w * h) AS mean_b,
           TRUE AS container_ok,
           TRUE AS rle_effective_ok
    FROM law
    """,
)
def multimodal_tiff_packbits_stats(spark, sf_dir):
    """REAL TIFF decode, end-to-end (round 14 — the TAG-DIRECTORY
    container class, structurally unlike every stream format already
    in the ladder): render a genuine little-endian baseline TIFF per
    document — 8-byte header, PACKBITS-compressed 2-row strips, an
    IFD whose BitsPerSample and strip arrays ride the out-of-line
    value-offset mechanism — then decode the BYTES back
    (operators/multimodal.decode_tiff_packbits: IFD walk with
    inline-vs-offset resolution, tag validation, per-strip RLE replay
    with exact length accounting, multi-strip reassembly) inside
    Arrow-batched mapInPandas.  The pixel law alternates constant
    gray EVEN rows (run packets) with gradient ODD rows (literal
    packets) so every strip exercises both PackBits packet kinds; the
    decoded channel means are closed forms of doc_id the oracle
    restates exactly.  ``container_ok`` grades strip accounting
    (#strips == ceil(h/2)); ``rle_effective_ok`` grades that
    compression actually paid (strip bytes < raw 3wh — a run-length
    law that didn't compress would mean the encoder never emitted a
    run packet)."""

    d = table(spark, sf_dir, "documents")
    return mm.media_rows(
        mm.render_media(d, mm.tiff_law),
        mm.extract_tiff_stats, mm.TIFF_STATS_SCHEMA)
