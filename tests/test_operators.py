"""Operator-library tests (operators/): properties the oracle can't
express — LSH recall on exact-set duplicates, SimHash invariants,
IVF containment, counters, multimodal stub contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datastore_mapper_spark.catalog import table
from datastore_mapper_spark.operators import (
    counters,
    dedup as dd,
    route,
    similarity as sim,
)
from datastore_mapper_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    FRAME_SCHEMA,
    MEDIA_META_SCHEMA,
    as_binary_media,
    decode_image,
    extract_features,
    extract_media_meta,
    media_rows,
    sample_frames,
)


def _docs(spark, sf_dir):
    return table(spark, sf_dir, "documents")


def _exact_set_pairs(spark, sf_dir) -> set[tuple[int, int]]:
    """Pairs of docs with identical distinct-token sets (jaccard == 1)."""
    d = _docs(spark, sf_dir)
    keyed = d.select(
        "doc_id",
        F.concat_ws("\x00", F.array_sort(F.array_distinct(F.split("text", " "))))
        .alias("k"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    rows = (
        a.join(b, (F.col("a.k") == F.col("b.k"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .collect()
    )
    return {(r.d1, r.d2) for r in rows}


def test_minhash_lsh_finds_exact_set_duplicates(spark, sf_dir):
    """Identical token sets => identical signatures => every band
    collides => the pair MUST be an LSH candidate (no probability) —
    PROVIDED its buckets stay within max_bucket_size, as the fixture's
    do.  In an oversized bucket the direct pair is only guaranteed via
    the signature-group star (both docs connect to the group's min id);
    test_lsh_hot_bucket_star_keeps_identical_docs_connected covers that
    regime."""
    d = _docs(spark, sf_dir)
    expected = _exact_set_pairs(spark, sf_dir)
    sigs = dd.minhash_signatures(d)
    cands = {
        (r.d1, r.d2) for r in dd.lsh_candidate_pairs(sigs).collect()
    }
    assert expected <= cands


def test_minhash_verify_matches_bruteforce_at_threshold(spark, sf_dir):
    """Every exact-set duplicate pair survives the Jaccard>=0.8 verify
    with jaccard exactly 1.0."""
    d = _docs(spark, sf_dir)
    expected = _exact_set_pairs(spark, sf_dir)
    sigs = dd.minhash_signatures(d)
    verified = dd.verify_jaccard(dd.lsh_candidate_pairs(sigs), d, threshold=0.8)
    ones = {(r.d1, r.d2) for r in verified.filter(F.col("jaccard") == 1.0).collect()}
    assert expected <= ones


def test_simhash_identical_sets_have_zero_hamming(spark, sf_dir):
    d = _docs(spark, sf_dir)
    expected = _exact_set_pairs(spark, sf_dir)
    pairs = dd.simhash_near_pairs(dd.simhash(d), max_hamming=0)
    zero = {(r.d1, r.d2) for r in pairs.collect()}
    assert expected <= zero


def test_simhash_value_level_pairs_match_doc_level_join(spark, sf_dir):
    """The value-level blocking (round 16) must emit EXACTLY the pair
    set of the doc-level half-block self-join it replaced — same
    (d1, d2, hamming) rows, no duplicates — and simhash_near_docs must
    equal the union of the pair columns."""
    sh = dd.simhash(_docs(spark, sf_dir)).localCheckpoint()
    halves = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(
            F.col("simhash").bitwiseAND(F.lit(0xFF)),
            F.shiftright("simhash", 8).bitwiseAND(F.lit(0xFF))
            + F.lit(1 << 20),
        )).alias("block"),
    )
    a, b = halves.alias("a"), halves.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    reference = (
        a.join(b, (F.col("a.block") == F.col("b.block"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("d1"),
                F.col("b.doc_id").alias("d2"),
                ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 2)
        .distinct()
    )
    ref_set = {(r.d1, r.d2, r.hamming) for r in reference.collect()}
    got_rows = dd.simhash_near_pairs(sh).collect()
    got_set = {(r.d1, r.d2, r.hamming) for r in got_rows}
    assert got_set == ref_set and len(got_rows) == len(got_set)
    docs = {r.doc for r in dd.simhash_near_docs(sh).collect()}
    assert docs == {p[0] for p in ref_set} | {p[1] for p in ref_set}


def test_exact_dedup_removes_injected_duplicates(spark, sf_dir):
    d = _docs(spark, sf_dir).select("doc_id", "text")
    doubled = d.unionAll(d)
    assert dd.exact_dedup(doubled, ["doc_id", "text"]).count() == d.count()


def test_ivf_results_contained_in_bruteforce_bucket(spark, sf_dir):
    """IVF top-k ⊆ brute-force ranking restricted to the query's cell,
    and both rank identically there."""
    e = table(spark, sf_dir, "embeddings")
    bucketed = e.withColumn("bucket", sim.sign_bucket(F.col("embedding")))
    qb = bucketed.filter(F.col("vec_id") == 0).collect()[0].bucket
    cell = bucketed.filter(F.col("bucket") == qb).drop("bucket")
    brute_in_cell = [r.vec_id for r in sim.cosine_topk(cell, 0, k=10).collect()]
    ivf = [r.vec_id for r in sim.ivf_topk(e, 0, k=10).collect()]
    assert ivf == brute_in_cell


def test_observed_counters(spark, sf_dir):
    o = table(spark, sf_dir, "orders")
    df, obs = counters.observed_counters(
        o, rows=F.count(F.lit(1)), total=F.round(F.sum("o_totalprice"), 2)
    )
    n = df.count()  # any action materializes the metrics
    assert obs.get["rows"] == n


def test_multimodal_stub_and_fake_path(spark, sf_dir):
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    media = as_binary_media(_docs(spark, sf_dir))
    meta = media_rows(media, extract_media_meta, MEDIA_META_SCHEMA).collect()
    assert all(0 <= r.width < 640 and 0 <= r.height < 480 for r in meta)
    by_id = {r.doc_id: r for r in meta}
    src = _docs(spark, sf_dir).select("doc_id", "text").collect()
    for r in src[:20]:
        assert by_id[r.doc_id].n_bytes == len(r.text.encode("utf-8"))


def test_media_rows_fans_out_under_the_declared_schema(spark):
    """The funnel emits zero, one or many rows per input row under the
    declared schema, also when no input row emits anything."""
    src = spark.createDataFrame([(0,), (1,), (2,)], "k long")
    out = media_rows(src, lambda k: [(k, j, j / 2) for j in range(k)],
                     "k long, j int, half double")
    assert sorted(map(tuple, out.collect())) == [
        (1, 0, 0.0), (2, 0, 0.0), (2, 1, 0.5)]
    none = media_rows(src, lambda k: [], "k long, j int, half double")
    assert none.collect() == []
    assert none.schema == out.schema


def test_bmp_codec_roundtrip_padding_and_order():
    """encode->decode must be the identity for a width whose row needs
    padding (w=2 -> 6 data bytes + 2 pad), proving padding bytes are
    skipped, BGR is swapped back, and bottom-up storage is restored to
    a top-down array."""
    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        decode_bmp24,
        decode_image,
        encode_bmp24,
    )

    px = np.array(
        [[[255, 0, 0], [0, 255, 0]],
         [[0, 0, 255], [10, 20, 30]],
         [[1, 2, 3], [200, 100, 50]]],
        dtype=np.uint8,
    )  # (h=3, w=2, RGB)
    blob = encode_bmp24(px)
    assert blob[:2] == b"BM"
    # stored row stride must be padded to 4 bytes: 54-byte header + 3*8
    assert len(blob) == 54 + 3 * 8
    w, h, back = decode_bmp24(blob)
    assert (w, h) == (2, 3)
    assert (back == px).all()
    # magic sniffing routes BMP through the same decoder
    assert (decode_image(blob)[2] == px).all()


def test_bmp_decoder_handles_top_down_layout():
    """Negative biHeight means top-down pixel order — the decoder must
    not flip it."""
    import struct

    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        decode_bmp24,
        encode_bmp24,
    )

    px = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    blob = bytearray(encode_bmp24(px))
    # rewrite height to -2 and pre-flip the stored rows to top-down
    struct.pack_into("<i", blob, 22, -2)
    row = (2 * 3 + 3) & ~3
    body = bytes(blob[54:])
    blob[54:] = body[row:] + body[:row]
    w, h, back = decode_bmp24(bytes(blob))
    assert (w, h) == (2, 2) and (back == px).all()


def test_ppm_codec_roundtrip_and_comments():
    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    px = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(3, 4, 3)
    w, h, back = decode_ppm(encode_ppm(px))
    assert (w, h) == (4, 3) and (back == px).all()
    # header comments per netpbm spec must be skipped
    blob = b"P6\n# a comment\n4 3\n# another\n255\n" + px.tobytes()
    w, h, back = decode_ppm(blob)
    assert (w, h) == (4, 3) and (back == px).all()


def test_extract_image_stats_real_decode():
    """extract_image_stats over REAL BMP and PPM blobs: decoded
    dimensions and exact channel means, no fake path anywhere."""
    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        encode_bmp24,
        encode_ppm,
        extract_image_stats,
    )

    px1 = np.zeros((2, 3, 3), dtype=np.uint8)
    px1[:, :, 0] = 10  # R constant
    px1[:, :, 1] = [[0, 1, 2], [3, 4, 5]]  # G mean 2.5
    px2 = np.full((1, 2, 3), 7, dtype=np.uint8)
    assert extract_image_stats(1, encode_bmp24(px1)) == [
        (1, 3, 2, 10.0, 2.5, 0.0)]
    assert extract_image_stats(2, encode_ppm(px2)) == [
        (2, 2, 1, 7.0, 7.0, 7.0)]


def test_wav_codec_roundtrip_and_chunk_walk():
    """encode->decode identity for PCM16, including negative samples
    (endianness/sign) and an extra odd-sized chunk before data (RIFF
    chunks pad to even offsets — a naive fixed-offset parse breaks)."""
    import struct

    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    samples = np.array([0, 1, -1, 32767, -32768, 123], dtype=np.int16)
    blob = encode_wav_pcm16(samples, sample_rate=8000)
    sr, back = decode_wav_pcm16(blob)
    assert sr == 8000 and (back == samples).all()
    # splice an odd-length LIST chunk between fmt and data
    fmt_end = 12 + 8 + 16
    extra = struct.pack("<4sI", b"LIST", 3) + b"abc" + b"\x00"  # pad byte
    spliced = blob[:fmt_end] + extra + blob[fmt_end:]
    sr, back = decode_wav_pcm16(spliced)
    assert sr == 8000 and (back == samples).all()
    with pytest.raises(ValueError):
        decode_wav_pcm16(b"OggS" + bytes(40))


def test_extract_audio_stats_real_decode():
    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        encode_wav_pcm16,
        extract_audio_stats,
    )

    s1 = np.array([10, 20, 30, 40], dtype=np.int16)     # mean 25, peak 40
    s2 = np.array([-5, 5], dtype=np.int16)              # mean 0, peak 5
    assert extract_audio_stats(1, encode_wav_pcm16(s1)) == [
        (1, 4, 16000, 4 / 16000, 25.0, 40)]
    assert extract_audio_stats(
        2, encode_wav_pcm16(s2, sample_rate=8000)) == [
        (2, 2, 8000, 2 / 8000, 0.0, 5)]


def test_y4m_codec_roundtrip_and_frame_walk():
    """encode->decode identity for a multi-frame C444 clip; FRAME
    markers with parameters must be skipped to their newline; C420
    (subsampled planes) must refuse rather than mis-slice."""
    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    frames = np.arange(2 * 3 * 4 * 3, dtype=np.uint8).reshape(2, 3, 4, 3)
    blob = encode_y4m(frames)
    w, h, back = decode_y4m(blob)
    assert (w, h) == (4, 3) and (back == frames).all()
    # FRAME marker with per-frame parameters (allowed by the spec)
    param_blob = blob.replace(b"FRAME\n", b"FRAME Xcustom\n", 1)
    w, h, back = decode_y4m(param_blob)
    assert (back == frames).all()
    with pytest.raises(NotImplementedError):
        decode_y4m(b"YUV4MPEG2 W4 H4 F25:1 C420\nFRAME\n" + bytes(24))
    with pytest.raises(ValueError):
        decode_y4m(b"RIFF....\n")


def test_extract_video_stats_real_decode():
    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        encode_y4m,
        extract_video_stats,
    )

    clip = np.full((3, 2, 2, 3), 128, dtype=np.uint8)
    clip[0, :, :, 0] = 10
    clip[1, :, :, 0] = 20
    clip[2, :, :, 0] = 30  # mean luma 20
    assert extract_video_stats(1, encode_y4m(clip)) == [(1, 3, 2, 2, 20.0)]


def test_resize_image_real_nearest_neighbor():
    """Real resize picks exactly the nearest-neighbor source pixels and
    re-encodes a decodable BMP."""
    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        decode_bmp24,
        encode_bmp24,
        resize_image_real,
    )

    src = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    [(doc_id, blob, width, height)] = resize_image_real(
        1, encode_bmp24(src), 2, 2)
    assert (doc_id, width, height) == (1, 2, 2)
    w, h, back = decode_bmp24(blob)
    # nearest-neighbor map: dst (x,y) -> src (x*4//2, y*4//2) = rows/cols 0,2
    assert (back == src[np.ix_([0, 2], [0, 2])]).all()


def test_connected_components_known_graph(spark):
    from datastore_mapper_spark.operators.dedup import connected_components

    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star on 20)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22)],
        ["d1", "d2"],
    )
    got = {
        (r.node, r.cluster_id)
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


# --- route twins: every operators/route.CAPS entry, forced both ways ----


def _cc_twin(spark, sf_dir):
    """Chain (diameter > 1 round), star, reversed duplicates and a
    singleton-free pair soup; both component loops agree on every
    route."""
    import random

    rng = random.Random(16)
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),     # chain
             (20, 21), (20, 22), (20, 23),               # star
             (21, 20), (2, 1)]                           # reversed dups
    for base in range(100, 160, 4):                      # pair soup
        a, b = rng.sample(range(4), 2)                   # no self-loops:
        edges.append((base + a, base + b))               # star drops them
    df = spark.createDataFrame(edges, ["d1", "d2"])
    cc = {(r.node, r.cluster_id)
          for r in dd.connected_components(df).collect()}
    star = {(r.node, r.cluster_id)
            for r in dd.connected_components_star(df).collect()}
    assert cc == star
    return cc


def _jaccard_twin(spark, sf_dir):
    """Blocked kernel vs join route, with a BINDING df cap (the miss
    characterization), duplicate-text groups and token arrays carrying
    repeated tokens."""
    import random

    rng = random.Random(1717)
    vocab = [f"t{i}" for i in range(12)]
    docs = []
    for i in range(60):
        toks = sorted(rng.sample(vocab, rng.randint(1, 8)))
        docs.append((i, toks))
    docs += [(100 + i, docs[3][1]) for i in range(4)]   # exact-dup group
    docs += [(200 + i, docs[7][1]) for i in range(2)]   # second group
    docs += [(300, docs[5][1] * 2), (301, docs[5][1] + docs[5][1][:1]),
             (302, docs[9][1] + docs[9][1][-1:])]       # repeated tokens
    df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
    # cap 30 binds: several tokens exceed df 30 over 69 docs; the low
    # theta keeps many survivors
    got = {tuple(r) for r in dd.jaccard_threshold_pairs(
        df, 30, 3, 5).collect()}
    assert got
    return got


def _kcore_twin(spark, sf_dir):
    """Broadcast vs shuffle semi-join peel on a clique with a pendant
    path (one node peeled per round), a triangle and a tree."""
    from datastore_mapper_spark.operators.graph import kcore

    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    edges += [(4, 5), (5, 6), (6, 7), (7, 8)]            # pendant path
    edges += [(20, 21), (21, 22), (22, 20)]              # triangle
    edges += [(30, 31), (30, 32), (32, 33)]              # tree
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    got = {(r.node, r.degree) for r in kcore(df, k=2).collect()}
    assert {n for n, _ in got} == {0, 1, 2, 3, 4, 20, 21, 22}
    return got


def _kmeans_twin(spark, sf_dir):
    """Well-separated clusters: same init (shared xxhash64 plan), tie
    rule and stop rule on both routes."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for c in range(4):
        center = np.zeros(8)
        center[c * 2] = 10.0 * (c + 1)
        rows += [
            (i + c * 100, (center + rng.randn(8) * 0.01).tolist())
            for i in range(50)
        ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.centroid_id: np.array(r.centroid)
           for r in sim.kmeans_train(df, k=4, max_iterations=10).collect()}
    assert len(got) == 4
    return got


def _pq_twin(spark, sf_dir):
    """Fused one-task PQ trainer vs the per-subspace kmeans_train
    chain, each subspace on the distributed Lloyd loop: same init rows,
    same Lloyd float sequence."""
    e = table(spark, sf_dir, "embeddings").limit(300)
    got = {(r.sub, r.centroid_id): list(r.centroid)
           for r in sim.pq_train(e, m=4, k=8, max_iterations=4).collect()}
    assert len(got) == 32
    return got


def _bpe_twin(spark, sf_dir):
    """One-task greedy trainer vs the per-merge loop on the real
    corpus."""
    from datastore_mapper_spark.queries.bpe_queries import bpe_train

    got = [(r.merge_rank, r.left, r.right, r.pair_count)
           for r in bpe_train(spark, sf_dir, n_merges=10)
           .orderBy("merge_rank").collect()]
    assert len(got) == 10
    return got


def _lpa_twin(spark, sf_dir):
    """Tie-breaks (equal neighbor-label counts resolved by MINIMUM
    label), label flips across rounds, two communities; every node of
    the pair list is labeled."""
    import random

    from datastore_mapper_spark.operators.graph import label_propagation

    rng = random.Random(17)
    edges = [(1, 2), (2, 3), (3, 1), (3, 4),          # triangle + pendant
             (10, 11), (11, 12), (12, 13), (13, 10),  # 4-cycle: pure ties
             (20, 21)]                                 # isolated pair
    nodes = list(range(100, 140))
    for _ in range(80):                                # dense soup
        a, b = rng.sample(nodes, 2)
        edges.append((min(a, b), max(a, b)))
    df = spark.createDataFrame(sorted(set(edges)), ["d1", "d2"])
    got = {(r.node, r.lab) for r in label_propagation(df).collect()}
    assert {n for n, _ in got} == {n for e in edges for n in e}
    return got


def _pagerank_twin(spark, sf_dir):
    """Dangling nodes and two components; the single-task route stays
    a constant-job query (a per-iteration job would push it past 4)."""
    import time

    from datastore_mapper_spark.operators.graph import pagerank

    edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (5, 6)]
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    sc = spark.sparkContext
    group = f"pr_jobcount_{time.monotonic_ns()}"
    sc.setJobGroup(group, "route twin")
    try:
        got = {r.node: r.rank
               for r in pagerank(edges, max_iterations=40).collect()}
    finally:
        sc.setJobGroup(None, None)
    if route.fits("task_edges", len(edge_list)):
        jobs = sc.statusTracker().getJobIdsForGroup(group) or []
        assert len(jobs) <= 4, f"single-task pagerank ran {len(jobs)} jobs"
    return got


def _bitset_twin(build):
    """Twin of a bitset-routed frame ``build(spark, sf_dir)``: its rows
    (at least one) and whether its plan runs the blocked kernel."""

    def twin(spark, sf_dir):
        df = build(spark, sf_dir)
        got = {tuple(r) for r in df.collect()}
        assert got
        plan = df._jdf.queryExecution().executedPlan().toString()
        return got, "FlatMapGroupsInPandas" in plan

    return twin


def _query_frame(name, where=None):
    def build(spark, sf_dir):
        from datastore_mapper_spark.registry import all_queries

        df = all_queries()[name].fn(spark, sf_dir)
        return df.filter(where) if where else df

    return build


def _near_dup_frame(spark, sf_dir):
    """The near-dup snapshot's pair builder on the documents table,
    with the join-rows cap forced off so the bitset caps alone pick
    the route (under that cap the join route runs on both sides)."""
    from datastore_mapper_spark.queries.llm_text import NEAR_DUP_DF_CAP

    doc_toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    with pytest.MonkeyPatch.context() as mp:
        mp.setitem(route.CAPS, "jaccard_join_rows", -1)
        return dd.jaccard_threshold_pairs(doc_toks, NEAR_DUP_DF_CAP, 4, 5)


#: cap -> {operator: (twin, tol)}; tol 0 means bit-identical, else the
#: absolute tolerance for loops that sum floats in another order.
_ROUTE_TWINS = {
    "bitset_flops": {
        "containment_asymmetric_dedup": (
            _bitset_twin(_query_frame("containment_asymmetric_dedup")), 0),
        "dedup_drop_contained": (
            _bitset_twin(_query_frame("dedup_drop_contained",
                                      "n_dropped > 0")), 0),
        "jaccard_threshold_pairs": (_bitset_twin(_near_dup_frame), 0)},
    "bitset_group_bytes": {
        "dedup_bigram_jaccard": (
            _bitset_twin(_query_frame("dedup_bigram_jaccard")), 0),
        "neardup_jaccard_prefix": (
            _bitset_twin(_query_frame("neardup_jaccard_prefix")), 0)},
    "bpe_vocab": {"bpe_train": (_bpe_twin, 0)},
    "cc_uncontracted_edges": {"connected_components": (_cc_twin, 0)},
    "jaccard_join_rows": {"jaccard_threshold_pairs": (_jaccard_twin, 0)},
    "kcore_broadcast_nodes": {"kcore": (_kcore_twin, 0)},
    "kmeans_pool_bytes": {"kmeans_train": (_kmeans_twin, 1e-9),
                          "pq_train": (_pq_twin, 0)},
    "task_edges": {"connected_components": (_cc_twin, 0),
                   "label_propagation": (_lpa_twin, 0),
                   "pagerank": (_pagerank_twin, 1e-9)},
}


@pytest.mark.parametrize("cap, op", [
    pytest.param(cap, op, id=f"{cap}-{op}")
    for cap in sorted(route.CAPS) for op in sorted(_ROUTE_TWINS[cap])
])
def test_forced_routes_are_twins(spark, sf_dir, monkeypatch, cap, op):
    """Each routed operator gives the same result on both sides of
    each cap it reads, both forced through ``route.CAPS`` (a cap with
    no twin here fails collection).  The bitset caps' twins also show
    that the two sides ran different routes."""
    import numpy as np

    twin, tol = _ROUTE_TWINS[cap][op]
    monkeypatch.setitem(route.CAPS, cap, 10**18)
    cheap = twin(spark, sf_dir)
    monkeypatch.setitem(route.CAPS, cap, -1)
    other = twin(spark, sf_dir)
    if cap.startswith("bitset_"):
        # the blocked kernel ran on the cheap side only
        (cheap, kernel_ran), (other, kernel_ran_other) = cheap, other
        assert kernel_ran and not kernel_ran_other
    if not tol:
        assert cheap == other
        return
    assert cheap.keys() == other.keys()
    for k in cheap:
        assert np.allclose(cheap[k], other[k], rtol=0, atol=tol), (
            k, cheap[k], other[k])


def test_multimodal_frame_sampling_counts_and_content(spark, sf_dir):
    import functools

    d = table(spark, sf_dir, "documents").limit(20)
    media = as_binary_media(d)
    frames = media_rows(
        media, functools.partial(sample_frames, frame_bytes=32), FRAME_SCHEMA)
    got = frames.groupBy("doc_id").count().collect()
    expected = {
        r.doc_id: (((len(r.payload) + 31) // 32) + 1) // 2
        for r in media.collect()
    }
    assert {r.doc_id: r["count"] for r in got} == expected
    one = frames.filter(F.col("frame_no") == 0).first()
    src = dict((r.doc_id, r.payload) for r in media.collect())[one.doc_id]
    assert bytes(one.frame) == bytes(src[:32])


def test_multimodal_features_feed_similarity_ops(spark, sf_dir):
    import math

    d = table(spark, sf_dir, "documents").limit(30)
    feats = media_rows(as_binary_media(d), extract_features, FEATURE_SCHEMA)
    rows = feats.collect()
    assert all(len(r.feature) == 16 for r in rows)
    assert all(math.isclose(sum(r.feature), 1.0, rel_tol=1e-5) for r in rows)
    # the schema matches the embeddings table's array<float> contract
    assert dict(feats.dtypes)["feature"] == "array<float>"


def test_near_dup_df_cap_exceeds_fixture_max_df(spark, sf_dir):
    """NEAR_DUP_DF_CAP must exceed the fixture's max token document
    frequency — that is what makes the capped candidate generation
    EXACT (identical to the uncapped oracle) at test scale.  If the
    fixtures ever change, this trips before the oracle diff does."""
    from datastore_mapper_spark.queries.llm_text import NEAR_DUP_DF_CAP

    d = table(spark, sf_dir, "documents")
    max_df = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
        )
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
        .agg(F.max("df").alias("m"))
        .first()
        .m
    )
    assert max_df < NEAR_DUP_DF_CAP


def test_near_dup_df_cap_binds(spark, sf_dir, monkeypatch):
    """With the cap forced below every token's df, candidate generation
    must yield zero pairs — proving the cap path actually gates the
    self-join (it is a no-op at fixture scale otherwise)."""
    from datastore_mapper_spark.queries import llm_text

    monkeypatch.setattr(llm_text, "NEAR_DUP_DF_CAP", 0)
    got = llm_text.dedup_near_jaccard(spark, sf_dir)
    assert got.count() == 0


def test_lsh_hot_bucket_star_keeps_identical_docs_connected(spark):
    """>max_bucket_size identical docs: the bucket overflows the clique
    cap, but every member still reaches one connected component via the
    signature-group star (ADVICE r2: the invariant is size-conditional,
    so exercise the oversized regime explicitly)."""
    n = 300  # > default max_bucket_size=256
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(n)]
        + [(10_000, "entirely unrelated text tokens")],
        "doc_id long, text string",
    )
    sigs = dd.minhash_signatures(docs)
    pairs = dd.lsh_candidate_pairs(sigs)
    cc = dd.connected_components(pairs).collect()
    clusters = {r.node: r.cluster_id for r in cc}
    assert {clusters[i] for i in range(n)} == {0}  # all with min id 0
    # linear, not quadratic: the n-doc group emits n-1 star edges
    assert pairs.count() < 2 * n


def test_lsh_hot_bucket_multi_hub_separates_merged_clusters(spark):
    """Two DISTINCT near-dup clusters collision-merged into one hot
    bucket (same band hash, different full signatures): each cluster
    must stay internally connected through its OWN hub, so that when
    the verifier rejects the cross-cluster rep edge, neither cluster
    fragments (ADVICE r2 medium: the old single-hub star lost this)."""
    half = 50
    sig_a = [1, 1, 1, 1] + [5] * 12
    sig_b = [1, 1, 1, 1] + [9] * 12  # band 0 (elements 1-4) collides
    sig_rows = [(i, sig_a) for i in range(half)] + [
        (1000 + i, sig_b) for i in range(half)
    ]
    sigs = spark.createDataFrame(sig_rows, "doc_id long, sig array<bigint>")
    pairs = dd.lsh_candidate_pairs(
        sigs, bands=1, rows_per_band=4, max_bucket_size=64
    )
    got = {(r.d1, r.d2) for r in pairs.collect()}
    in_a = lambda d: d < 1000  # noqa: E731
    # exactly: star within each signature group + one rep edge across
    assert got == (
        {(0, i) for i in range(1, half)}
        | {(1000, 1000 + i) for i in range(1, half)}
        | {(0, 1000)}
    )
    # drop cross-cluster edges (the verifier would): each cluster is
    # still one component
    intra = [p for p in got if in_a(p[0]) == in_a(p[1])]
    edges = spark.createDataFrame(intra, "d1 long, d2 long")
    cc = {r.node: r.cluster_id for r in dd.connected_components(edges).collect()}
    assert {cc[i] for i in range(half)} == {0}
    assert {cc[1000 + i] for i in range(half)} == {1000}


def test_kmeans_trainer_invariants(spark, sf_dir):
    """Codebook: exactly k centroids, ids 0..k-1, right dimensionality,
    and deterministic across retrains (hash-seeded init, no rand)."""
    e = table(spark, sf_dir, "embeddings")
    cb = sim.kmeans_train(e, k=8, max_iterations=4)
    rows = cb.collect()
    assert sorted(r.centroid_id for r in rows) == list(range(8))
    dim = len(e.first().embedding)
    assert all(len(r.centroid) == dim for r in rows)
    cb2 = sim.kmeans_train(e, k=8, max_iterations=4).collect()
    assert {r.centroid_id: list(r.centroid) for r in rows} == {
        r.centroid_id: list(r.centroid) for r in cb2
    }


def test_kmeans_ivf_recall_vs_bruteforce(spark, sf_dir):
    """Trained-codebook IVF with nprobe=3 of k=8 cells must recover
    >= 0.75 of the exact top-10 while scanning ~3/8 of the corpus.
    (The fixture embeddings are near-uniform on the sphere — the
    hardest case for IVF; real embedding corpora cluster far more, so
    production recall at this scan fraction is higher.)  Measured on
    the fixture: nprobe 1/2/3/4 -> recall 0.5/0.7/0.8/0.9."""
    e = table(spark, sf_dir, "embeddings")
    exact = {r.vec_id for r in sim.cosine_topk(e, 0, k=10).collect()}
    cb = sim.kmeans_train(e, k=8, max_iterations=6)
    approx = {
        r.vec_id
        for r in sim.ivf_topk_kmeans(e, cb, 0, k=10, nprobe=3).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.75


def test_star_cc_matches_label_propagation_known_graphs(spark):
    """Alternating large-star/small-star must produce the identical
    (node, cluster_id) labeling as min-label propagation — including
    on a diameter-63 chain, where star converges in O(log^2 n) rounds
    while label propagation needs ~diameter rounds."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["d1", "d2"]
    )
    got = {
        (r.node, r.cluster_id)
        for r in dd.connected_components_star(chain).collect()
    }
    assert got == {(i, 0) for i in range(64)}

    # a mixed graph: chain + star + pair + isolated edge cluster
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (20, 22), (30, 31)],
        ["d1", "d2"],
    )
    star = {
        (r.node, r.cluster_id)
        for r in dd.connected_components_star(edges).collect()
    }
    prop = {
        (r.node, r.cluster_id)
        for r in dd.connected_components(edges).collect()
    }
    assert star == prop


def test_kmeans_train_fraction_subsamples_deterministically(spark, sf_dir):
    """train_fraction trains the codebook on a hash-sampled subset:
    still k full-dimension centroids, still deterministic across
    retrains, and the sampled pool is a strict subset of the corpus."""
    e = table(spark, sf_dir, "embeddings")
    cb1 = sim.kmeans_train(e, k=4, max_iterations=3, train_fraction=0.5)
    cb2 = sim.kmeans_train(e, k=4, max_iterations=3, train_fraction=0.5)
    r1 = {r.centroid_id: list(r.centroid) for r in cb1.collect()}
    r2 = {r.centroid_id: list(r.centroid) for r in cb2.collect()}
    assert r1 == r2 and len(r1) == 4
    full = sim.kmeans_train(e, k=4, max_iterations=3)
    assert r1 != {r.centroid_id: list(r.centroid) for r in full.collect()}


def test_pagerank_matches_numpy_power_iteration(spark):
    """PageRank on a known 4-node graph must match an independent
    dense power-iteration (numpy) to 1e-6, and ranks must sum to 1."""
    import numpy as np

    from datastore_mapper_spark.operators.graph import pagerank

    # 0->1, 0->2, 1->2, 2->0, 3->2  (3 is reachable-from nothing,
    # 3 has out-degree 1; no dangling nodes here)
    edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]
    edges = spark.createDataFrame(edge_list, ["src", "dst"])
    got = {
        r.node: r.rank
        for r in pagerank(edges, max_iterations=60, tol=1e-12).collect()
    }
    n, d = 4, 0.85
    M = np.zeros((n, n))
    outdeg = {0: 2, 1: 1, 2: 1, 3: 1}
    for s, t in edge_list:
        M[t, s] = 1.0 / outdeg[s]
    r = np.full(n, 1.0 / n)
    for _ in range(200):
        r = (1 - d) / n + d * (M @ r)
    assert abs(sum(got.values()) - 1.0) < 1e-6
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-6, (i, got[i], r[i])


def test_pagerank_dangling_mass_conserved(spark):
    """With a dangling node (no out-edges) total rank must still sum
    to 1 — the dangling mass redistributes uniformly."""
    from datastore_mapper_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])  # 2 dangles
    got = pagerank(edges, max_iterations=40).collect()
    assert abs(sum(r.rank for r in got) - 1.0) < 1e-9


def test_pq_encode_round_trip_and_adc_recall(spark, sf_dir):
    """Product quantization: every vector gets exactly m codes; ADC
    top-k over codes must (a) rank the query's own vector first and
    (b) recover a reasonable share of the exact L2 top-10 while never
    touching raw embeddings at scoring time."""
    e = table(spark, sf_dir, "embeddings")
    m, k = 4, 16
    cb = sim.pq_train(e, m=m, k=k, max_iterations=4)
    assert cb.count() == m * k
    codes = sim.pq_encode(e, cb, m=m)
    per_vec = codes.groupBy("vec_id").count().collect()
    assert all(r["count"] == m for r in per_vec)

    q = e.filter(F.col("vec_id") == 0).first().embedding
    adc = [r.vec_id for r in sim.pq_adc_topk(codes, cb, list(q), k=11, m=m).collect()]
    assert adc[0] == 0 or 0 in adc[:3]  # self is (near-)nearest under ADC

    # planted near-duplicates: a 0.1%-perturbed twin of each of the
    # first 20 vectors must quantize to (nearly) the same codes, so
    # ADC retrieves it in the top-3 for its query.  (The fixture
    # embeddings are near-uniform — no natural neighbor structure —
    # so planted twins are the meaningful recall probe for 2-byte
    # codes; this is exactly the ANN-for-dedup use case.)
    twins = (
        e.filter(F.col("vec_id") < 20)
        .select(
            (F.col("vec_id") + 10_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x.cast("double") * 1.001).cast("float")
            ).alias("embedding"),
        )
    )
    corpus = e.select("vec_id", "embedding").union(twins)
    codes2 = sim.pq_encode(corpus, cb, m=m)
    hits = 0
    for qid in range(5):
        qv = e.filter(F.col("vec_id") == qid).first().embedding
        top = [
            r.vec_id
            for r in sim.pq_adc_topk(codes2, cb, list(qv), k=3, m=m).collect()
        ]
        hits += (10_000 + qid) in top
    assert hits >= 4, hits


def test_pq_reconstruction_beats_coarser_codebook(spark, sf_dir):
    """More centroids per subspace must not increase total quantization
    error (sum of per-subvector distances to the assigned centroid)."""
    e = table(spark, sf_dir, "embeddings").limit(200)

    def total_err(k):
        cb = sim.pq_train(e, m=4, k=k, max_iterations=4)
        codes = sim.pq_encode(e, cb, m=4)
        dim = len(e.first().embedding)
        step = dim // 4
        subs = e.select(
            "vec_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice(F.col("embedding"), s * step + 1, step).alias("sv"),
                    )
                    for s in range(4)
                ])
            ).alias("x"),
        ).select("vec_id", F.col("x.sub").alias("sub"), F.col("x.sv").alias("sv"))
        joined = (
            subs.join(codes, ["vec_id", "sub"])
            .join(
                cb.withColumnRenamed("centroid_id", "code"), ["sub", "code"]
            )
            .select(sim.l2sq(F.col("sv"), F.col("centroid")).alias("err"))
        )
        return joined.agg(F.sum("err")).first()[0]

    assert total_err(16) <= total_err(4) * 1.001


def test_iterative_operators_handle_empty_inputs(spark):
    """Empty edge lists / corpora / vector sets must yield empty
    results, not crashes — the 3 a.m. pipeline edge case (a micro-batch
    with zero near-dup pairs, a filter that removed everything)."""
    from datastore_mapper_spark.operators.graph import (
        kcore_single_task,
        label_propagation,
        pagerank,
    )

    empty_edges = spark.createDataFrame([], "d1 long, d2 long")
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert dd.connected_components(empty_edges).count() == 0
    assert dd.connected_components_star(empty_edges).count() == 0
    assert pagerank(empty_edges, src="d1", dst="d2").count() == 0
    assert label_propagation(empty_edges).count() == 0
    assert kcore_single_task(empty_edges).count() == 0
    assert dd.minhash_signatures(empty_docs).count() == 0
    assert dd.lsh_candidate_pairs(dd.minhash_signatures(empty_docs)).count() == 0
    assert dd.verify_jaccard(empty_edges, empty_docs).count() == 0
    assert sim.kmeans_train(empty_vecs, k=4, max_iterations=2).count() == 0


def test_arrow_cosine_matches_jvm_expression(spark, sf_dir):
    """The pandas-UDF scorer must produce the identical top-10 (ids AND
    4-dp scores) as the JVM zip_with/aggregate fold — the Arrow path is
    an optimization for d in the thousands, never a semantics change."""
    e = table(spark, sf_dir, "embeddings")
    jvm = [(r.vec_id, r.sim) for r in sim.cosine_topk(e, 0, k=10).collect()]
    arrow = [
        (r.vec_id, r.sim) for r in sim.cosine_topk_arrow(e, 0, k=10).collect()
    ]
    assert jvm == arrow


def test_quality_expectations_count_violations(spark):
    """Each expectation flags exactly its violating rows; uniqueness
    counts every row of a duplicated key."""
    from datastore_mapper_spark.operators import quality as Q

    df = spark.createDataFrame(
        [(1, "F", 10.0), (2, None, -5.0), (2, "X", 99.0)],
        "k long, status string, price double",
    )
    rep = {
        r.rule: r.n_violations
        for r in Q.validate(
            df,
            [
                Q.not_null("status"),
                Q.in_range("price", 0, 50),
                Q.accepted_values("status", ["F", "O"]),
                Q.matches_regex("status", "^[A-Z]$"),
            ],
        ).collect()
    }
    assert rep == {
        "not_null(status)": 1,
        "in_range(price)": 2,
        "accepted_values(status)": 1,
        "matches_regex(status)": 0,
    }
    u = Q.expect_unique(df, ["k"]).first()
    assert (u.n_violations, u.n_rows) == (2, 3)


def test_multimodal_feature_neardup_finds_planted_twin(spark, sf_dir):
    """A document duplicated under a new id must surface as a
    feature-space near-dup pair (cosine ~1.0 in the same sign cell) —
    the multimodal dedup path end-to-end over the stubbed codec."""
    d = table(spark, sf_dir, "documents").limit(50).select("doc_id", "text")
    twin = d.filter(F.col("doc_id") == 0).select(
        (F.col("doc_id") + 77_000).alias("doc_id"), "text"
    )
    feats = media_rows(as_binary_media(d.union(twin)), extract_features,
                       FEATURE_SCHEMA).select(
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
    pairs = {
        (r.id1, r.id2)
        for r in a.join(b, ["bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2", s.alias("sim"))
        .filter(F.col("sim") >= 0.9999)
        .collect()
    }
    assert (0, 77_000) in pairs


def test_df_cap_recall_when_cap_binds(spark):
    """Round-5 VERDICT item 4: MEASURE the df-cap's recall on a corpus
    where the cap actually binds (the fixtures' max df sits below the
    production cap, so the contract query is exact there — this test
    quantifies the loss the way LSH recall was quantified).

    Construction (deterministic, cap=20):
    - 60 planted near-dup pairs built from RARE tokens (df=2): base doc
      {a<i>_0..a<i>_9}, twin replaces one token -> J = 9/11 ~ 0.818.
    - 10 planted near-dup pairs built ONLY from a 30-token STOPWORD
      pool pushed above the cap by 30 filler docs: windowed subsets
      keep unplanned cross-pair overlap at J <= 7/13.
    Theory: a qualifying pair is missed IFF every shared token is
    above-cap -> exactly the 10 stopword-only pairs drop.  Measured
    recall on this corpus: 60/70 ~ 85.7%."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.operators.dedup import capped_jaccard_pairs

    CAP = 20
    stop = [f"s{t}" for t in range(30)]
    docs = {}
    # rare-token near-dup pairs (both sides all-rare)
    for i in range(60):
        base = [f"a{i}_{t}" for t in range(10)]
        docs[2 * i] = base
        docs[2 * i + 1] = base[:9] + [f"b{i}"]
    # stopword-only near-dup pairs: window {3j..3j+9} of the pool
    for j in range(10):
        w = [stop[(3 * j + t) % 30] for t in range(10)]
        docs[200 + 2 * j] = w
        docs[200 + 2 * j + 1] = w[:9] + [stop[(3 * j + 20) % 30]]
    # fillers pump every stopword's df above the cap; unique noise
    # tokens keep filler-filler Jaccard at 30/50 = 0.6
    for m in range(30):
        docs[300 + m] = stop + [f"n{m}_{t}" for t in range(10)]

    # every stopword must actually be above-cap, every rare token below
    from collections import Counter

    dfreq = Counter(t for toks in docs.values() for t in set(toks))
    assert all(dfreq[s] > CAP for s in stop)
    assert all(c <= CAP for t, c in dfreq.items() if not t.startswith("s"))

    exact = set()
    ids = sorted(docs)
    for x, i in enumerate(ids):
        s1 = set(docs[i])
        for j in ids[x + 1:]:
            s2 = set(docs[j])
            inter = len(s1 & s2)
            if inter / (len(s1) + len(s2) - inter) >= 0.8:
                exact.add((i, j))
    planted_rare = {(2 * i, 2 * i + 1) for i in range(60)}
    planted_stop = {(200 + 2 * j, 200 + 2 * j + 1) for j in range(10)}
    assert exact == planted_rare | planted_stop  # no unplanned pairs

    doc_toks = spark.createDataFrame(
        [(i, sorted(set(t))) for i, t in docs.items()],
        "doc_id long, toks array<string>",
    )
    scored = capped_jaccard_pairs(doc_toks, CAP)
    got = {
        (r.d1, r.d2)
        for r in scored.filter(
            F.col("inter").cast("double")
            / (F.col("sz1") + F.col("sz2") - F.col("inter"))
            >= 0.8
        ).collect()
    }
    # the miss set is EXACTLY the stopword-only pairs (theory), and the
    # measured recall is 60/70
    assert got == planted_rare
    recall = len(got & exact) / len(exact)
    assert abs(recall - 60 / 70) < 1e-9


def test_near_dup_edges_survive_blanket_unpersist(spark, sf_dir):
    """Regression (round-7 sweep finding): the shared pair-graph
    materialization must survive an environment that unpersists every
    RDD between queries (storage pressure, isolation sweeps, executor
    loss).  The localCheckpoint-backed version crashed downstream with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; the parquet-table version has
    no block-manager dependency at all."""
    from datastore_mapper_spark.operators.dedup import connected_components
    from datastore_mapper_spark.queries.llm_text import near_dup_edges

    first = near_dup_edges(spark, sf_dir)
    n_edges = first.count()
    # the round-6 isolation sweep's exact blanket unpersist
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
    again = near_dup_edges(spark, sf_dir)
    assert again.count() == n_edges
    cc = connected_components(again.select("d1", "d2"))
    assert cc.count() > 0


def test_bpe_train_matches_pure_python_reference(spark, sf_dir):
    """Differential test for the iterative BPE trainer: the Spark
    merge list must equal an INDEPENDENT pure-Python reference trainer
    run on the same word-frequency table (same tie-break: count DESC,
    then lexicographic pair).  This carries the correctness weight for
    the rows-only contract row bpe_train_merges."""
    from collections import Counter

    from datastore_mapper_spark.queries.bpe_queries import (
        _merge_symbols,
        bpe_train,
        word_frequencies,
    )

    wf = {
        r.w: r.f for r in word_frequencies(spark, sf_dir).collect()
    }

    def reference(wf, n_merges):
        vocab = {tuple(w): f for w, f in wf.items()}
        out = []
        for rank in range(n_merges):
            counts = Counter()
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    counts[(syms[i], syms[i + 1])] += f
            if not counts:
                break
            (a, b), cnt = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
            out.append((rank, a, b, cnt))
            vocab = {
                tuple(_merge_symbols(list(s), a, b)): f
                for s, f in vocab.items()
            }
        return out

    expected = reference(wf, 6)
    got = [
        (r.merge_rank, r.left, r.right, r.pair_count)
        for r in bpe_train(spark, sf_dir, n_merges=6)
        .orderBy("merge_rank").collect()
    ]
    assert got == expected


def test_approx_quantile_audit_within_contract(spark, sf_dir):
    """The sketch-quantile accuracy contract: every audited quantile's
    relative value error must stay under 1% on the fixture
    distribution (accuracy=10000 → ~1e-4 rank error)."""
    from datastore_mapper_spark.registry import all_queries

    rows = (
        all_queries()["approx_quantile_error_audit"]
        .fn(spark, sf_dir).collect()
    )
    assert len(rows) == 4
    # the r13 promotion folded the error into a graded boolean (the
    # sketch estimate left the hashed output); the contract is the same
    for r in rows:
        assert r.rel_error_ok, r.quantile


def test_hll_audit_within_contract(spark, sf_dir):
    """HLL++ distinct-count audit: relative error per event type must
    stay under 5x the requested rsd (0.01)."""
    from datastore_mapper_spark.registry import all_queries

    rows = all_queries()["hll_error_audit"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.error_ok, (r.event_type, r.exact_users)


def test_bpe_encode_matches_pure_python(spark, sf_dir):
    """Encoded lengths from the Spark path (trained merges + Arrow
    UDF over the per-lang vocab) must equal a pure-Python encode of
    the same corpus with the same merges."""
    from collections import Counter

    from datastore_mapper_spark.catalog import table as _table
    from datastore_mapper_spark.queries.bpe_queries import (
        _merge_symbols,
        bpe_train,
    )
    from datastore_mapper_spark.registry import all_queries
    from pyspark.sql import functions as F

    merges = [
        (r.left, r.right)
        for r in bpe_train(spark, sf_dir, n_merges=10)
        .orderBy("merge_rank").collect()
    ]

    def enc_len(w):
        syms = list(w)
        for a, b in merges:
            syms = _merge_symbols(syms, a, b)
        return len(syms)

    docs = _table(spark, sf_dir, "documents").select("lang", "text").collect()
    ws = Counter()
    bpe = Counter()
    for r in docs:
        for w in r.text.split(" "):
            if w:
                ws[r.lang] += 1
                bpe[r.lang] += enc_len(w)

    rows = all_queries()["bpe_encode_token_count"].fn(spark, sf_dir).collect()
    got_ws = {r.lang: r.whitespace_tokens for r in rows}
    assert got_ws == dict(ws)
    cs = Counter()
    for r in docs:
        for w in r.text.split(" "):
            if w:
                cs[r.lang] += len(w)
    assert {r.lang: r.char_symbols for r in rows} == dict(cs)
    # the round-14 promotion moved BPE totals out of the hashed output
    # into graded booleans; the pure-Python differential now targets
    # the Spark encode path directly
    assert all(r.encode_bounds_ok and r.merges_applied_ok for r in rows)
    from datastore_mapper_spark.queries.bpe_queries import _encode_len_udf

    wf = (
        _table(spark, sf_dir, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("lang", "w")
        .agg(F.count("*").alias("f"))
    )
    enc = wf.withColumn("enc_len", _encode_len_udf(merges)("w"))
    spark_bpe = {
        r.lang: r.s
        for r in enc.groupBy("lang")
        .agg(F.sum(F.col("f") * F.col("enc_len")).alias("s")).collect()
    }
    assert spark_bpe == dict(bpe)


def test_bpe_encode_ladder_matches_independent_runs(spark, sf_dir):
    """The one-pass ladder UDF (r16 optimization) must return exactly
    the three lengths the independent per-prefix encoders produce:
    sequential rule application makes the state after the first k
    rules identical to the merges[:k] encoder's final state."""
    from datastore_mapper_spark.catalog import table as _table
    from datastore_mapper_spark.queries.bpe_queries import (
        _encode_ladder_udf,
        _encode_len_udf,
        bpe_train,
    )
    from pyspark.sql import functions as F

    merges = [
        (r.left, r.right)
        for r in bpe_train(spark, sf_dir, n_merges=10)
        .orderBy("merge_rank").collect()
    ]
    wf = (
        _table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .distinct()
    )
    got = (
        wf.withColumn("_enc", _encode_ladder_udf(merges, split=5)("w"))
        .withColumn("e10", _encode_len_udf(merges)("w"))
        .withColumn("e5", _encode_len_udf(merges[:5])("w"))
        .withColumn("e0", _encode_len_udf([])("w"))
        .filter(
            (F.col("_enc.l_full") != F.col("e10"))
            | (F.col("_enc.l_half") != F.col("e5"))
            | (F.col("_enc.l_zero") != F.col("e0"))
        )
        .count()
    )
    assert got == 0


def test_snapshot_content_addressing_rebuilds_on_fixture_change(
    spark, sf_dir, tmp_path
):
    """The content-addressed snapshot contract: same fixture bytes ->
    same tag -> reuse (no rebuild); a rewritten fixture file -> new
    tag -> rebuild, and the superseded same-(corpus, cap) snapshot is
    cleaned up.  This is the invariant that lets every session —
    including the driver's — trust a snapshot it did not build."""
    import os
    import shutil

    from datastore_mapper_spark.queries import llm_text

    from datastore_mapper_spark.testing import ORACLE_TABLES

    corpus = tmp_path / "mini_sf"
    corpus.mkdir()
    for t in ORACLE_TABLES:  # the catalog loads the full fixture set
        shutil.copyfile(
            os.path.join(sf_dir, f"{t}.parquet"), corpus / f"{t}.parquet"
        )
    tag1 = llm_text._corpus_snapshot_tag(str(corpus))
    llm_text.near_dup_edges(spark, str(corpus)).count()
    dirs1 = [
        d for d in os.listdir(llm_text._SCRATCH)
        if d.startswith("near_dup_edges_mini_sf_") and tag1 in d
    ]
    assert dirs1, "first build must write a tagged snapshot dir"

    # same bytes, same mtime -> same tag (reuse path)
    assert llm_text._corpus_snapshot_tag(str(corpus)) == tag1

    # rewrite the fixture (bytes appended -> size+mtime change)
    with open(corpus / "documents.parquet", "ab") as f:
        pass  # touch mtime without corrupting parquet: utime below
    os.utime(corpus / "documents.parquet")
    tag2 = llm_text._corpus_snapshot_tag(str(corpus))
    assert tag2 != tag1, "fixture rewrite must change the snapshot tag"

    llm_text.near_dup_edges(spark, str(corpus)).count()
    names = os.listdir(llm_text._SCRATCH)
    assert any(
        d.startswith("near_dup_edges_mini_sf_") and tag2 in d for d in names
    ), "rebuild under the new tag"
    # the query path never deletes (round-8 ADVICE: atomic rename +
    # explicit maintenance only) — the superseded generation survives
    # until clean_scratch reaps it past the grace period
    assert any(
        d.startswith("near_dup_edges_mini_sf_") and tag1 in d for d in names
    ), "query path must not delete the superseded snapshot"
    llm_text.clean_scratch(grace_seconds=0)
    names = os.listdir(llm_text._SCRATCH)
    assert not any(
        d.startswith("near_dup_edges_mini_sf_") and tag1 in d for d in names
    ), "clean_scratch must reap the superseded generation"
    assert any(
        d.startswith("near_dup_edges_mini_sf_") and tag2 in d for d in names
    ), "clean_scratch must keep the newest generation"

    # hygiene: drop the test corpus snapshots
    for d in os.listdir(llm_text._SCRATCH):
        if "mini_sf" in d:
            shutil.rmtree(
                os.path.join(llm_text._SCRATCH, d), ignore_errors=True
            )


def test_downsample_wav_decimates_and_reencodes():
    """downsample_wav must decode, keep every factor-th sample, and
    re-encode at the reduced rate — verified sample-by-sample against
    numpy slicing on a hand-built WAV."""
    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        decode_wav_pcm16,
        downsample_wav,
        encode_wav_pcm16,
    )

    samples = np.arange(-5, 18, dtype=np.int16)  # 23 samples
    blob = encode_wav_pcm16(samples, sample_rate=16_000)
    [(doc_id, out)] = downsample_wav(1, blob, factor=2)
    sr, got = decode_wav_pcm16(out)
    assert doc_id == 1 and sr == 8_000
    assert list(got) == list(samples[::2])
    with pytest.raises(ValueError):
        downsample_wav(1, blob, factor=0)


# --- ledger: clamped running balance (operators/ledger.py) ---------------


def test_clamped_balance_kernel_matches_reference():
    """The numpy kernel must agree with the obvious Python recurrence,
    including saturation at both rails and a nonzero carry-in."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import numpy as np

    from datastore_mapper_spark.operators.ledger import clamped_balance_kernel

    @settings(max_examples=200, deadline=None)
    @given(
        deltas=st.lists(
            st.integers(min_value=-60_000, max_value=60_000), max_size=50
        ),
        cap=st.integers(min_value=1, max_value=100_000),
        start=st.integers(min_value=0, max_value=100_000),
    )
    def _prop(deltas, cap, start):
        start = min(start, cap)
        got = clamped_balance_kernel(
            np.asarray(deltas, dtype=np.int64), cap=cap, start=start
        )
        b = start
        for i, d in enumerate(deltas):
            b = min(cap, max(0, b + d))
            assert got[i] == b
        assert len(got) == len(deltas)

    _prop()


def test_capped_running_balance_sorts_within_group(spark):
    """applyInPandas groups arrive UNORDERED; the kernel must sort on
    the order columns itself.  Feed rows deliberately out of order and
    check the clamp sequence follows event order, not input order."""
    from datastore_mapper_spark.operators.ledger import capped_running_balance

    rows = [
        # user 7, event order by (us, event_id): +100, -300, +80
        (7, 30, 3, 80),
        (7, 10, 1, 100),
        (7, 20, 2, -300),
        # us tie broken by event_id: +50 (id 4) then -20 (id 5)
        (8, 10, 5, -20),
        (8, 10, 4, 50),
    ]
    df = spark.createDataFrame(rows, "user_id long, us long, event_id long, delta long")
    got = {
        (r.user_id, r.rn): r.balance
        for r in capped_running_balance(df, cap=120).collect()
    }
    assert got == {
        (7, 1): 100,   # clamped at nothing
        (7, 2): 0,     # 100 - 300 -> rail 0
        (7, 3): 80,
        (8, 1): 50,
        (8, 2): 30,
    }


# --- graph: k-core peeling (operators/graph.py) --------------------------


def test_kcore_matches_python_peel(spark, sf_dir):
    """The distributed peel must agree EXACTLY (membership and in-core
    degree) with the obvious sequential reference peel on the same
    near-dup edge list."""
    from collections import defaultdict

    from datastore_mapper_spark.operators.graph import kcore
    from datastore_mapper_spark.queries.llm_text import near_dup_edges

    edges = [
        (r.d1, r.d2)
        for r in near_dup_edges(spark, sf_dir).select("d1", "d2").collect()
    ]
    k = 2
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    changed = True
    while changed:
        drop = [n for n, nb in adj.items() if len(nb) < k]
        changed = bool(drop)
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
    expected = {n: len(nb) for n, nb in adj.items()}
    got = {
        r.node: r.degree for r in kcore(near_dup_edges(spark, sf_dir), k=k).collect()
    }
    assert got == expected and len(got) > 0


def test_kcore_rejects_bad_k(spark):
    import pytest as _pytest

    from datastore_mapper_spark.operators.graph import kcore

    df = spark.createDataFrame([(1, 2)], "d1 long, d2 long")
    with _pytest.raises(ValueError):
        kcore(df, k=0)


# --- sketch: Misra-Gries heavy-hitter candidates (operators/sketch.py) ---


def test_misra_gries_covers_all_heavy_hitters(spark):
    """The union of per-partition MG(k) summaries must contain EVERY
    item with global count > N/k — the coverage guarantee the
    oracle-checked query relies on.  Crafted stream: two heavy items
    among uniform noise, deliberately spread over several partitions."""
    from datastore_mapper_spark.operators.sketch import misra_gries_candidates

    rows = (
        [("hot1",)] * 400
        + [("hot2",)] * 250
        + [(f"noise{i % 97}",) for i in range(1000)]
    )
    df = spark.createDataFrame(rows, "item string").repartition(8)
    k = 16
    n = len(rows)
    cand = {r.item for r in misra_gries_candidates(df, "item", k=k).collect()}
    from collections import Counter

    true_counts = Counter(r[0] for r in rows)
    heavy = {i for i, c in true_counts.items() if c * k > n}
    assert heavy, "test fixture has no heavy hitters"
    assert heavy <= cand, heavy - cand


def test_misra_gries_rejects_bad_k(spark):
    import pytest as _pytest

    from datastore_mapper_spark.operators.sketch import misra_gries_candidates

    df = spark.createDataFrame([("a",)], "item string")
    with _pytest.raises(ValueError):
        misra_gries_candidates(df, "item", k=0)


def test_bitset_blocked_pairs_match_bruteforce(spark):
    """operators/bitset.py differential: every pairwise intersection
    count the blocked matmul kernel emits must equal the python
    set-intersection ground truth, over an adversarial little corpus
    (empty sets, identical sets, subsets, disjoint sets, ids that
    collide modulo the bucket count)."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from datastore_mapper_spark.operators.bitset import (
        blocked_pair_survivors,
        dictionary_ids,
        gid_sets,
    )

    sets = {
        1: {"a", "b", "c"},
        2: {"a", "b", "c"},          # identical to 1
        3: {"a", "b"},               # subset of 1
        4: {"x", "y"},               # disjoint
        9: {"a", "x"},               # bridges 1 and 4; 9 % 8 == 1 % 8
        17: set(),                   # empty; 17 % 8 == 1 % 8 == 9 % 8
        18: {"c", "y", "z"},
    }
    rows = [(i, t) for i, ts in sets.items() for t in sorted(ts)]
    pairs_df = spark.createDataFrame(rows, "doc_id long, tok string")
    gid = dictionary_ids(pairs_df, "tok")
    n_bits = gid.count()
    docs = gid_sets(
        pairs_df.join(F.broadcast(gid), "tok").select("doc_id", "gid"),
        "doc_id", "gid", "tk",
    )
    # docs with empty sets never reach gid_sets (no gid rows);
    # union them in with an explicit empty gid set so the kernel sees
    # them (r16: masks are gid-set arrays, no longer packed words)
    empty_ids = [i for i, ts in sets.items() if not ts]
    if empty_ids:
        zero = spark.createDataFrame(
            [(i,) for i in empty_ids], "doc_id long"
        ).select(
            "doc_id",
            F.expr("array()").cast("array<int>").alias("tk"),
            F.lit(0).cast("long").alias("tk_sz"),
        )
        docs = docs.unionByName(zero)

    got = {
        (r.d1, r.d2): (r.tk_inter, r.tk_sz1, r.tk_sz2)
        for r in blocked_pair_survivors(
            spark, docs, "doc_id", ["tk"], lambda inter, *_: inter["tk"] >= 0
        ).collect()
    }
    want = {
        (a, b): (len(sets[a] & sets[b]), len(sets[a]), len(sets[b]))
        for a, b in combinations(sorted(sets), 2)
    }
    assert got == want


def test_bitset_kernel_router_envelope(monkeypatch):
    """operators/bitset.kernel_fits under the ``route.CAPS`` bitset caps:
    the router must accept the degenerate-fixture shape the kernel was
    built for (small vocab, thousands of docs) and reject the
    healthy-vocabulary shapes where the unpacked matrices or the total
    matmul work explode."""
    from datastore_mapper_spark.operators.bitset import kernel_fits

    assert kernel_fits(5_000, 1_000)       # the sf0.1 fixture shape
    assert kernel_fits(1_000, 50_000)      # small corpus, big vocab: fits
    assert not kernel_fits(10_000, 50_000)   # flops blow the budget
    assert not kernel_fits(1_000_000, 64)    # n^2 alone blows the budget
    # memory bound: one bucket-pair's matrices must fit a task
    monkeypatch.setitem(route.CAPS, "bitset_flops", 10**18)
    assert not kernel_fits(100_000, 500_000)


def test_clean_scratch_reaps_only_dead_patterns(tmp_path, monkeypatch):
    """clean_scratch: age-reaps per-run streaming dirs and dead-pid
    sink dirs, NEVER the content-keyed reused dirs (stream_src_*,
    newest near_dup generation) or anything younger than the grace."""
    import os
    import time

    from datastore_mapper_spark.queries import llm_text

    monkeypatch.setattr(llm_text, "_SCRATCH", str(tmp_path))
    old = time.time() - 7200
    # two corpora's k-core twins are each their corpus's newest
    # generation: one must not reap the other
    twins = [llm_text._snapshot_dirname("kcore2twin", str(tmp_path / c))
             for c in ("sf0.01", "sf0.1")]
    keep = ["stream_src_abc", "near_dup_edges_sf_df1_tagB", *twins]
    reap = [
        "ckpt_feb_deadbeef", "stream_partials_cafe",
        "near_dup_edges_sf_df1_tagA",  # superseded generation
        "sink_parquet_roundtrip_sf0.01_p999999",  # dead pid
    ]
    fresh = ["ckpt_feb_fresh"]
    for d in keep + reap + fresh:
        (tmp_path / d).mkdir()
    for d in keep + reap:
        os.utime(tmp_path / d, (old, old))
    # tagB must stay the NEWEST generation of its prefix
    os.utime(tmp_path / "near_dup_edges_sf_df1_tagB", (old + 60, old + 60))
    os.utime(tmp_path / twins[1], (old + 60, old + 60))

    removed = set(llm_text.clean_scratch(grace_seconds=3600))
    assert removed == set(reap)
    left = set(os.listdir(tmp_path))
    assert set(keep + fresh) <= left


def test_indexed_pair_route_matches_kernel(spark):
    """operators/bitset.indexed_pair_intersections (the kernel_fits=False
    route, round-9 ADVICE) must be an exact twin of the blocked kernel
    on every candidate pair (>= 1 shared element of the candidate
    mask), same adversarial corpus as the kernel differential."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from datastore_mapper_spark.operators.bitset import (
        dictionary_ids,
        indexed_pair_intersections,
    )

    sets = {
        1: {"a", "b", "c"},
        2: {"a", "b", "c"},
        3: {"a", "b"},
        4: {"x", "y"},
        9: {"a", "x"},
        18: {"c", "y", "z"},
    }
    rows = [(i, t) for i, ts in sets.items() for t in sorted(ts)]
    pairs_df = spark.createDataFrame(rows, "doc_id long, tok string")
    gid = dictionary_ids(pairs_df, "tok")
    long_df = pairs_df.join(F.broadcast(gid), "tok").select("doc_id", "gid")
    got = {
        (r.d1, r.d2): (r.tk_inter, r.tk_sz1, r.tk_sz2)
        for r in indexed_pair_intersections(
            {"tk": long_df}, "doc_id", "tk"
        ).collect()
    }
    want = {
        (a, b): (len(sets[a] & sets[b]), len(sets[a]), len(sets[b]))
        for a, b in combinations(sorted(sets), 2)
        if sets[a] & sets[b]  # index route only sees candidate pairs
    }
    assert got == want


def test_snapshot_build_race_keeps_winner(spark):
    """Round-9 ADVICE (medium): if a concurrent builder installs a
    COMPLETED (_SUCCESS-bearing) snapshot while our build is running,
    _read_or_build_snapshot must keep the winner's table byte-for-byte
    (no rmtree of its part files — a session may have resolved a read
    plan against them) and drop its own temp dir.  Deterministic
    interleaving: the loser's build() installs the winner mid-flight."""
    import os
    import shutil
    import uuid

    from datastore_mapper_spark.queries import llm_text

    dirname = f"race_test_{uuid.uuid4().hex[:8]}"
    final = os.path.join(llm_text._SCRATCH, dirname)
    try:
        def build_with_concurrent_winner():
            # the "winner": a completed snapshot lands at the final
            # path while our own build is still producing its frame
            spark.range(1).selectExpr(
                "CAST(1 AS BIGINT) AS v"
            ).write.mode("overwrite").parquet(final)
            assert os.path.exists(os.path.join(final, "_SUCCESS"))
            return spark.range(1).selectExpr("CAST(2 AS BIGINT) AS v")

        winner_parts = None

        def snap():
            return llm_text._read_or_build_snapshot(
                spark, dirname, build_with_concurrent_winner
            )

        got = snap()
        winner_parts = sorted(os.listdir(final))
        # the winner's table survives: value 1, not the loser's 2
        assert [r.v for r in got.collect()] == [1]
        # no temp dirs left behind
        leftovers = [
            d for d in os.listdir(llm_text._SCRATCH)
            if d.startswith(f"{dirname}.tmp-")
        ]
        assert not leftovers, leftovers
        # part files untouched (same names) and readable afterwards
        assert sorted(os.listdir(final)) == winner_parts
        assert [r.v for r in spark.read.parquet(final).collect()] == [1]
    finally:
        shutil.rmtree(final, ignore_errors=True)


def test_gif_lzw_codec_round_trip():
    """GIF87a LZW codec differential: encode->decode must reproduce the
    index array exactly through palette mapping, across code-width
    growth, table reset at 4096 entries, and the KwKwK self-reference
    case (run-of-one-symbol images)."""
    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        decode_gif87a,
        encode_gif87a,
    )

    rng = np.random.RandomState(7)
    cases = [
        (np.zeros((1, 1), np.uint8),
         np.array([[10, 20, 30], [40, 50, 60]], np.uint8)),
        (rng.randint(0, 4, (7, 11)).astype(np.uint8),
         rng.randint(0, 256, (4, 3)).astype(np.uint8)),
        (rng.randint(0, 16, (33, 57)).astype(np.uint8),
         rng.randint(0, 256, (16, 3)).astype(np.uint8)),
        # 30k random pixels over 4 symbols: grows past 12-bit codes and
        # exercises the clear-and-reset path
        (rng.randint(0, 4, (150, 200)).astype(np.uint8),
         rng.randint(0, 256, (4, 3)).astype(np.uint8)),
        (rng.randint(0, 256, (80, 90)).astype(np.uint8),
         rng.randint(0, 256, (256, 3)).astype(np.uint8)),
        # KwKwK: constant image emits code == next_code immediately
        (np.zeros((50, 50), np.uint8),
         np.array([[1, 2, 3], [4, 5, 6]], np.uint8)),
        (np.tile(np.array([0, 1], np.uint8), 5000).reshape(100, 100),
         np.array([[0, 0, 0], [255, 255, 255]], np.uint8)),
    ]
    for i, (idx, pal) in enumerate(cases):
        blob = encode_gif87a(idx, pal)
        w, h, rgb = decode_gif87a(blob)
        assert (w, h) == (idx.shape[1], idx.shape[0]), (i, w, h)
        assert np.array_equal(rgb, pal[idx]), f"case {i} pixel mismatch"


def test_gif_decode_rejects_unsupported():
    """Interlaced flags, local color tables and non-GIF magics must
    raise loudly instead of mis-decoding."""
    import numpy as np
    import pytest as _pytest

    from datastore_mapper_spark.operators.multimodal import (
        decode_gif87a,
        encode_gif87a,
    )

    pal = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    blob = bytearray(encode_gif87a(np.zeros((2, 2), np.uint8), pal))
    with _pytest.raises(ValueError):
        decode_gif87a(b"NOTAGIF")
    # image descriptor packed byte lives at offset 13 + 3*2 (gct) + 9
    ipacked_off = 13 + 6 + 9
    assert blob[ipacked_off - 9] == 0x2C  # sanity: image separator
    interlaced = bytes(blob[:ipacked_off]) + b"\x40" + bytes(blob[ipacked_off + 1:])
    with _pytest.raises(NotImplementedError):
        decode_gif87a(interlaced)


def test_png_codec_round_trip_and_filters():
    """PNG codec differential: encode (filters None/Up) -> decode must
    reproduce pixels exactly; a hand-built PNG using ALL FIVE filter
    types (None/Sub/Up/Average/Paeth) must unfilter correctly; a
    corrupted chunk CRC must be rejected."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from datastore_mapper_spark.operators.multimodal import (
        decode_png_rgb8,
        encode_png_rgb8,
    )

    rng = np.random.RandomState(11)
    for shape in [(1, 1), (5, 9), (33, 17)]:
        px = rng.randint(0, 256, shape + (3,)).astype(np.uint8)
        for ft in (0, 2):
            w, h, got = decode_png_rgb8(encode_png_rgb8(px, filter_type=ft))
            assert (w, h) == (shape[1], shape[0])
            assert np.array_equal(got, px), (shape, ft)

    def build_png(px, ftypes):
        h, w, _ = px.shape
        rows, prev = [], np.zeros((w * 3,), dtype=np.int32)
        for y, ft in enumerate(ftypes):
            cur = px[y].reshape(-1).astype(np.int32)
            if ft == 0:
                enc = cur.copy()
            elif ft == 1:
                enc = cur.copy()
                enc[3:] = cur[3:] - cur[:-3]
            elif ft == 2:
                enc = cur - prev
            elif ft == 3:
                a = np.zeros_like(cur)
                a[3:] = cur[:-3]
                enc = cur - (a + prev) // 2
            else:
                enc = np.zeros_like(cur)
                for i in range(len(cur)):
                    a = cur[i - 3] if i >= 3 else 0
                    b, c = prev[i], (prev[i - 3] if i >= 3 else 0)
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c)
                    enc[i] = cur[i] - pred
            rows.append(bytes([ft])
                        + (enc & 0xFF).astype(np.uint8).tobytes())
            prev = cur
        raw = b"".join(rows)

        def chunk(tag, body):
            return (struct.pack(">I", len(body)) + tag + body
                    + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    px = rng.randint(0, 256, (6, 8, 3)).astype(np.uint8)
    w, h, got = decode_png_rgb8(build_png(px, [0, 1, 2, 3, 4, 4]))
    assert np.array_equal(got, px), "Sub/Average/Paeth unfilter mismatch"

    bad = bytearray(encode_png_rgb8(px))
    bad[40] ^= 0xFF
    with _pytest.raises(ValueError):
        decode_png_rgb8(bytes(bad))


def test_jpeg_codec_round_trips():
    """Baseline JPEG codec: constant 8x8 blocks (DC-only spectra with
    the all-ones quant table) must round-trip EXACTLY; arbitrary
    images within +-1 (pure DCT rounding); non-baseline variants must
    raise."""
    import numpy as np
    import pytest as _pytest

    from datastore_mapper_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    rng = np.random.RandomState(5)
    for bh, bw in [(1, 1), (2, 3), (3, 2)]:
        vals = rng.randint(0, 256, (bh, bw))
        px = np.kron(vals, np.ones((8, 8), dtype=int)).astype(np.uint8)
        w, h, got = decode_jpeg_gray(encode_jpeg_gray(px))
        assert (w, h) == (px.shape[1], px.shape[0])
        assert np.array_equal(got, px), (bh, bw)

    for shape in [(8, 8), (24, 40), (17, 13)]:  # incl. non-multiple-of-8
        px = rng.randint(0, 256, shape).astype(np.uint8)
        w, h, got = decode_jpeg_gray(encode_jpeg_gray(px))
        assert (w, h) == (shape[1], shape[0])
        err = np.abs(got.astype(int) - px.astype(int)).max()
        assert err <= 2, f"{shape} max err {err}"

    with _pytest.raises(ValueError):
        decode_jpeg_gray(b"NOTAJPEG")
    # flip SOF0 -> SOF2 (progressive): must refuse loudly
    blob = bytearray(encode_jpeg_gray(px))
    sof = blob.find(b"\xFF\xC0")
    blob[sof + 1] = 0xC2
    with _pytest.raises(NotImplementedError):
        decode_jpeg_gray(bytes(blob))


def test_codec_fuzz_round_trips():
    """Property fuzz over the three compressed codecs: random sizes,
    palettes and pixel contents must round-trip exactly (GIF/PNG) or
    within the DCT-rounding bound (JPEG DC-only inputs exactly)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datastore_mapper_spark.operators.multimodal import (
        decode_gif87a,
        decode_jpeg_gray,
        decode_png_rgb8,
        encode_gif87a,
        encode_jpeg_gray,
        encode_png_rgb8,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40), h=st.integers(1, 25),
        pbits=st.integers(1, 6), seed=st.integers(0, 2**31 - 1),
        ftype=st.sampled_from([0, 2]),
    )
    def fuzz(w, h, pbits, seed, ftype):
        rng = np.random.RandomState(seed)
        p = 1 << pbits
        idx = rng.randint(0, p, (h, w)).astype(np.uint8)
        pal = rng.randint(0, 256, (p, 3)).astype(np.uint8)
        gw, gh, rgb = decode_gif87a(encode_gif87a(idx, pal))
        assert (gw, gh) == (w, h) and np.array_equal(rgb, pal[idx])

        px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        pw, ph, prgb = decode_png_rgb8(encode_png_rgb8(px, filter_type=ftype))
        assert (pw, ph) == (w, h) and np.array_equal(prgb, px)

        gray = rng.randint(0, 256, (h, w)).astype(np.uint8)
        jw, jh, jpx = decode_jpeg_gray(encode_jpeg_gray(gray))
        assert (jw, jh) == (w, h)
        assert np.abs(jpx.astype(int) - gray.astype(int)).max() <= 2

    fuzz()


def test_acid_merge_race_raises_conflict(spark, tmp_path, monkeypatch):
    """Two merges racing from the same parent version: the loser must
    raise CommitConflict (optimistic concurrency), never silently
    clobber — and the winner's committed state must be intact after.
    Deterministic interleaving: the loser's view of `latest_version`
    is pinned stale, so its commit targets the version the winner
    already took."""
    import pytest as _pytest

    from datastore_mapper_spark.sources import acid_lite

    tdir = str(tmp_path / "race_tbl")
    acid_lite.create_table(
        spark, tdir, spark.createDataFrame([(1, "a")], "k bigint, v string")
    )
    # winner commits v2 out-of-band (same files, new version)
    acid_lite._commit(tdir, 2, acid_lite._read_manifest(tdir, 1)["files"],
                      parent=1, op="winner")
    src = spark.createDataFrame([(1, "LOSER")], "k bigint, v string")
    monkeypatch.setattr(acid_lite, "latest_version", lambda path: 1)
    with _pytest.raises(acid_lite.CommitConflict):
        acid_lite.merge_upsert(spark, tdir, src, key="k")
    monkeypatch.undo()
    # winner's chain intact: latest still v2, original value preserved
    assert acid_lite.latest_version(tdir) == 2
    assert [r.v for r in acid_lite.read(spark, tdir, 2).collect()] == ["a"]


def test_gif_lzw_empty_stream_roundtrip():
    """Round-10 ADVICE: the public encoder used to IndexError on a
    zero-pixel stream deep in the bit packer; an empty index stream is
    now a legal clear+EOI body that the decoder round-trips."""
    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        _lzw_decode_gif, _lzw_encode_gif,
    )

    body = _lzw_encode_gif(np.array([], dtype=np.uint8), 2)
    assert _lzw_decode_gif(body, 2, 0).size == 0


def test_huff_lut_cache_evicts_one_entry(monkeypatch):
    """The parsed-Huffman-table cache is bounded by evicting ONE entry
    at the cap: after 257 distinct tables the 256 most recent are
    still cached (same object back), only the oldest was rebuilt.
    Clearing the whole cache at the cap would miss on all of them."""
    from collections import OrderedDict

    from datastore_mapper_spark.operators import multimodal as mm

    monkeypatch.setattr(mm, "_HUFF_LUT_CACHE", OrderedDict())
    cap = mm._HUFF_LUT_CACHE_MAX
    bits = [0] * 17
    bits[8] = 2  # two 8-bit codes

    def table(i):
        return bits, [i % 256, i // 256]

    luts = [mm._huff_lut(*table(i)) for i in range(cap + 1)]
    assert len(mm._HUFF_LUT_CACHE) == cap
    assert all(mm._huff_lut(*table(i)) is luts[i]
               for i in range(1, cap + 1))
    # a hit refreshes recency: re-hit table 1 survives the next
    # overflow, table 2 (now least recently used) is evicted
    mm._huff_lut(*table(1))
    mm._huff_lut(*table(cap + 1))
    assert mm._huff_lut(*table(1)) is luts[1]
    assert mm._huff_lut(*table(2)) is not luts[2]


def test_jpeg_color_codec_round_trips():
    """Color (YCbCr 4:2:0) baseline JPEG: constant-color images must
    round-trip EXACTLY through the quantized color transforms (the
    closed-form-oracle contract); Y-varying images with constant
    chroma (lossless 2x2 chroma subsample) stay within a small DCT +
    double-color-transform rounding bound; wrong samplings refuse."""
    import numpy as np
    import pytest as _pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datastore_mapper_spark.operators.multimodal import (
        _rgb_to_ycbcr,
        _ycbcr_to_rgb,
        decode_jpeg_color,
        encode_jpeg_color,
    )

    @settings(max_examples=20, deadline=None)
    @given(
        w=st.integers(1, 40), h=st.integers(1, 34),
        r=st.integers(0, 255), g=st.integers(0, 255), b=st.integers(0, 255),
        seed=st.integers(0, 2**31 - 1),
    )
    def fuzz(w, h, r, g, b, seed):
        img = np.empty((h, w, 3), dtype=np.uint8)
        img[..., 0], img[..., 1], img[..., 2] = r, g, b
        want = _ycbcr_to_rgb(*_rgb_to_ycbcr(img))
        gw, gh, got = decode_jpeg_color(encode_jpeg_color(img))
        assert (gw, gh) == (w, h)
        assert np.array_equal(got, want), (r, g, b)

        rng = np.random.RandomState(seed)
        y = rng.randint(30, 220, (h, w)).astype(np.int64)
        cb = np.full((h, w), rng.randint(108, 148))
        cr = np.full((h, w), rng.randint(108, 148))
        rgb = _ycbcr_to_rgb(y, cb, cr)
        _, _, out = decode_jpeg_color(encode_jpeg_color(rgb))
        assert np.abs(out.astype(int) - rgb.astype(int)).max() <= 4

    fuzz()

    with _pytest.raises(ValueError):
        decode_jpeg_color(b"NOTAJPEG")
    img = np.full((9, 9, 3), 77, dtype=np.uint8)
    blob = bytearray(encode_jpeg_color(img))
    sof = blob.find(b"\xFF\xC0")
    # flip Y sampling 0x22 -> 0x11 (4:4:4): must refuse loudly
    assert blob[sof + 10 + 1] == 0x22
    blob[sof + 10 + 1] = 0x11
    with _pytest.raises(NotImplementedError):
        decode_jpeg_color(bytes(blob))


def test_adpcm_codec_state_tracking_fuzz():
    """IMA-ADPCM codec invariants: (a) per-block-constant signals
    round-trip EXACTLY (the closed-form-oracle contract); (b) for
    ARBITRARY signals the decoder's reconstruction must equal the
    encoder's own predictor path sample-for-sample (the shared
    step-table walk is the codec); (c) non-ADPCM WAVs refuse."""
    import numpy as np
    import pytest as _pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datastore_mapper_spark.operators.multimodal import (
        _ima_step,
        decode_wav_ima_adpcm,
        encode_wav_ima_adpcm,
        encode_wav_pcm16,
    )

    spb = (256 - 4) * 2 + 1

    @settings(max_examples=20, deadline=None)
    @given(
        vals=st.lists(st.integers(-32768, 32767), min_size=1, max_size=3),
        seed=st.integers(0, 2**31 - 1),
        n=st.integers(1, 1200),
    )
    def fuzz(vals, seed, n):
        sig = np.concatenate(
            [np.full(spb, v, dtype=np.int16) for v in vals])
        rate, out = decode_wav_ima_adpcm(encode_wav_ima_adpcm(sig, 8000))
        assert rate == 8000 and np.array_equal(out, sig)

        rng = np.random.RandomState(seed)
        sig = rng.randint(-32768, 32768, n).astype(np.int16)
        _, out = decode_wav_ima_adpcm(encode_wav_ima_adpcm(sig))
        assert len(out) == n
        # replay the encoder's state machine independently (including
        # the per-block predictor RE-SEED from the raw header sample):
        # the decoder output must match it exactly
        from datastore_mapper_spark.operators.multimodal import (
            _IMA_STEP_TABLE,
        )

        pred, index, want = int(sig[0]), 0, [int(sig[0])]
        for i, s in enumerate(sig[1:], start=1):
            if i % spb == 0:
                pred = int(s)  # block header seeds the raw sample
                want.append(pred)
                continue
            step = int(_IMA_STEP_TABLE[index])
            diff = int(s) - pred
            nib = 0
            if diff < 0:
                nib, diff = 8, -diff
            if diff >= step:
                nib |= 4
                diff -= step
            if diff >= step >> 1:
                nib |= 2
                diff -= step >> 1
            if diff >= step >> 2:
                nib |= 1
            pred, index = _ima_step(pred, index, nib)
            want.append(pred)
        assert np.array_equal(out[:n].astype(int), np.array(want))

    fuzz()

    with _pytest.raises(NotImplementedError):
        decode_wav_ima_adpcm(
            encode_wav_pcm16(np.zeros(4, dtype=np.int16)))


def test_gif_animated_round_trip_fuzz():
    """Property fuzz over the ANIMATED GIF89a grammar (round-12): any
    frame count / palette / delays / pixel contents must round-trip
    exactly — frames in order, delays attributed to THEIR frame, and
    the single-image 87a path still decodes through the multi-frame
    walker with delay 0."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datastore_mapper_spark.operators.multimodal import (
        decode_gif_frames,
        encode_gif87a,
        encode_gif89a_animated,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 24), h=st.integers(1, 16),
        pbits=st.integers(1, 5), nf=st.integers(1, 6),
        seed=st.integers(0, 2**31 - 1),
    )
    def fuzz(w, h, pbits, nf, seed):
        rng = np.random.RandomState(seed)
        p = 1 << pbits
        pal = rng.randint(0, 256, (p, 3)).astype(np.uint8)
        frames = [rng.randint(0, p, (h, w)).astype(np.uint8)
                  for _ in range(nf)]
        delays = [int(rng.randint(0, 1000)) for _ in range(nf)]
        blob = encode_gif89a_animated(frames, pal, delays)
        gw, gh, dec = decode_gif_frames(blob)
        assert (gw, gh) == (w, h) and len(dec) == nf
        for (d, rgb), fr, dexp in zip(dec, frames, delays):
            assert d == dexp
            assert np.array_equal(rgb, pal[fr])

    fuzz()
    # static 87a through the multi-frame walker: one frame, delay 0
    import numpy as np
    from datastore_mapper_spark.operators.multimodal import (
        decode_gif_frames, encode_gif87a)
    idx = np.arange(12, dtype=np.uint8).reshape(3, 4) % 4
    pal = np.arange(12, dtype=np.uint8).reshape(4, 3)
    w, h, dec = decode_gif_frames(encode_gif87a(idx, pal))
    assert (w, h, len(dec)) == (4, 3, 1) and dec[0][0] == 0
    assert np.array_equal(dec[0][1], pal[idx])


def test_jpeg_progressive_matches_baseline_reconstruction():
    """Progressive (SOF2, 4-scan) and baseline (SOF0) code the SAME
    spectra over different transports: for any image the two decoders
    must reconstruct BIT-IDENTICAL pixels; DC-only (block-constant)
    images are exact; each decoder refuses the other's SOF."""
    import numpy as np
    import pytest as _pt
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from datastore_mapper_spark.operators.multimodal import (
        decode_jpeg_gray,
        decode_jpeg_gray_progressive,
        encode_jpeg_gray,
        encode_jpeg_gray_progressive,
    )

    @settings(max_examples=20, deadline=None)
    @given(w=st.integers(1, 40), h=st.integers(1, 25),
           seed=st.integers(0, 2**31 - 1))
    def fuzz(w, h, seed):
        rng = np.random.RandomState(seed)
        img = rng.randint(0, 256, (h, w)).astype(np.uint8)
        pw, ph, ppx = decode_jpeg_gray_progressive(
            encode_jpeg_gray_progressive(img))
        bw, bh, bpx = decode_jpeg_gray(encode_jpeg_gray(img))
        assert (pw, ph) == (w, h)
        assert np.array_equal(ppx, bpx)
        assert np.abs(ppx.astype(int) - img.astype(int)).max() <= 2

    fuzz()
    import numpy as np
    flat = np.full((17, 9), 203, np.uint8)
    _, _, px = decode_jpeg_gray_progressive(
        encode_jpeg_gray_progressive(flat))
    assert np.array_equal(px, flat)  # DC-only: exact through 4 scans
    with _pt.raises(NotImplementedError):
        decode_jpeg_gray(encode_jpeg_gray_progressive(flat))
    with _pt.raises(NotImplementedError):
        decode_jpeg_gray_progressive(encode_jpeg_gray(flat))


def test_tdigest_compress_and_merge_accuracy():
    """t-digest invariants: weight conservation, monotone centroid
    means, bounded quantile error on heavy-tailed data, and the
    MERGE property — compressing per-chunk digests' centroids again
    stays within the same error class as one-shot compression."""
    import numpy as np

    from datastore_mapper_spark.operators.sketch import _tdigest_compress

    rng = np.random.RandomState(7)
    v = rng.lognormal(3.0, 1.2, 40000)
    means, ws = _tdigest_compress(v, np.ones(len(v)), 100)
    assert abs(sum(ws) - len(v)) < 1e-6            # weight conserved
    assert all(a <= b + 1e-12 for a, b in zip(means, means[1:]))
    assert len(means) <= 120                        # ~delta/2 clusters

    def quantile_from(means, ws, p):
        means, ws = np.array(means), np.array(ws)
        cum = np.cumsum(ws) - ws / 2
        return float(np.interp(p, cum / ws.sum(), means))

    for p in (0.01, 0.5, 0.99):
        est = quantile_from(means, ws, p)
        exact = np.quantile(v, p)
        assert abs(est - exact) / exact < 0.05, (p, est, exact)
    # mergeability: 8 chunk digests -> recompress -> same error class
    chunks = np.array_split(v, 8)
    cm, cw = [], []
    for c in chunks:
        m, w = _tdigest_compress(c, np.ones(len(c)), 100)
        cm.extend(m)
        cw.extend(w)
    mm, mw = _tdigest_compress(np.array(cm), np.array(cw), 100)
    assert abs(sum(mw) - len(v)) < 1e-6
    for p in (0.01, 0.5, 0.99):
        est = quantile_from(mm, mw, p)
        exact = np.quantile(v, p)
        assert abs(est - exact) / exact < 0.05, (p, est, exact)


def test_tdigest_quantiles_spark_end_to_end(spark, sf_dir):
    """The distributed path: per-partition digests + driver merge land
    within 2% of exact on the orders price column."""
    import numpy as np

    from datastore_mapper_spark.catalog import table
    from datastore_mapper_spark.operators.sketch import tdigest_quantiles

    o = table(spark, sf_dir, "orders")
    probs = [0.1, 0.5, 0.9]
    ests = tdigest_quantiles(o, "o_totalprice", probs)
    vals = np.array([r.o_totalprice
                     for r in o.select("o_totalprice").collect()])
    for p, e in zip(probs, ests):
        exact = np.quantile(vals, p)
        assert abs(e - exact) / exact < 0.02, (p, e, exact)


def test_mulaw_codec_fuzz():
    """G.711 mu-law: (a) codebook idempotence — decode(encode(v)) is a
    fixpoint lattice and re-encoding lands on the same byte; (b) the
    companding error bound on arbitrary signals (relative ~1/16 from
    the 4-bit mantissa, absolute <= the top segment's step); (c) the
    render law's lattice values round-trip EXACTLY (the property the
    SQL oracle depends on)."""
    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        decode_wav_mulaw,
        encode_wav_mulaw,
    )

    rng = np.random.default_rng(7)
    # (a) idempotence on the decoded lattice
    sig = rng.integers(-32000, 32000, 500).astype(np.int16)
    _, once = decode_wav_mulaw(encode_wav_mulaw(sig))
    _, twice = decode_wav_mulaw(encode_wav_mulaw(once))
    assert (once == twice).all()
    # (b) companding error bound
    err = np.abs(once.astype(np.int64) - sig.astype(np.int64))
    step = np.maximum(np.abs(sig.astype(np.int64)) + 132, 256) // 16
    assert (err <= step + 4).all(), int(err.max())
    # (c) the render-law lattice is exact
    for i in range(0, 64):
        mag = (((i % 16) * 8 + 132) << (i % 8)) - 132
        val = mag if i % 2 == 0 else -mag
        s = np.full(9, val, dtype=np.int16)
        rate, out = decode_wav_mulaw(encode_wav_mulaw(s, 16000))
        assert rate == 16000 and (out == val).all(), (i, val)
    # malformed container refused
    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_wav_mulaw(b"RIFFxxxxJUNK")


def test_tga_rle_round_trip_fuzz():
    """TGA type-10: exact round-trip on random images (both packet
    kinds), long->128-cap run splitting, scanline isolation, and the
    format guards (non-RLE type, color maps, odd bpp refused)."""
    import numpy as np
    import pytest as _pytest

    from datastore_mapper_spark.operators.multimodal import (
        decode_tga_rle,
        encode_tga_rle,
    )

    rng = np.random.default_rng(11)
    for _ in range(40):
        h = int(rng.integers(1, 9))
        w = int(rng.integers(1, 20))
        # mix structured runs with noise so both packet kinds appear
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        if rng.random() < 0.5:
            px[:, : w // 2] = px[:, :1]
        assert (decode_tga_rle(encode_tga_rle(px)) == px).all()
    # >128-pixel runs must split packets and still round-trip
    px = np.full((3, 700, 3), 42, np.uint8)
    blob = encode_tga_rle(px)
    assert (decode_tga_rle(blob) == px).all()
    # guards
    bad = bytearray(blob)
    bad[2] = 2  # uncompressed true-color: not implemented here
    with _pytest.raises(NotImplementedError):
        decode_tga_rle(bytes(bad))
    with _pytest.raises(ValueError):
        decode_tga_rle(blob[:10])


def test_sq8_quantization_quality_and_shape(spark, sf_dir):
    """SQ8: codes bounded to [-127, 127], scales dimension-sized, and
    the quantized top-10's similarity mass within 3% of exact."""
    from datastore_mapper_spark.catalog import table as _table
    from datastore_mapper_spark.operators import similarity as sim

    e = _table(spark, sf_dir, "embeddings")
    scales = sim.sq8_train(e)
    d = len(e.first().embedding)
    assert len(scales) == d and all(s > 0 for s in scales)
    from pyspark.sql import functions as F
    enc = sim.sq8_encode(e, scales)
    mx = enc.select(
        F.max(F.aggregate(F.col("sq8"), F.lit(0),
                          lambda a, x: F.greatest(a, F.abs(x))))
        .alias("m")).first().m
    assert mx <= 127
    approx = sim.sq8_topk(e, scales, query_id=1, k=10)
    exact = sim.cosine_topk(e, query_id=1, k=10)
    am = sum(r.sim for r in approx.collect())
    em = sum(r.sim for r in exact.collect())
    assert am >= 0.97 * em, (am, em)


def test_qoi_round_trip_fuzz():
    """QOI codec: encode->decode is the identity over four adversarial
    corpora (random RGB = explicit-op heavy, constant = RUN flush
    paths incl. >62-pixel runs, small-delta = DIFF/LUMA boundaries,
    4-color palette = INDEX hash traffic), plus header/end-marker
    checks and the graded render law's closed-form means."""
    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        decode_qoi,
        encode_qoi,
    )

    rng = np.random.RandomState(7)
    for trial in range(40):
        h, w = rng.randint(1, 24), rng.randint(1, 24)
        kind = trial % 4
        if kind == 0:
            px = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        elif kind == 1:
            px = np.full((h, w, 3), rng.randint(0, 256), np.uint8)
        elif kind == 2:
            px = (rng.randint(0, 200)
                  + np.cumsum(rng.randint(-2, 2, (h, w, 3)), axis=1)
                  % 50).astype(np.uint8)
        else:
            pal = rng.randint(0, 256, (4, 3)).astype(np.uint8)
            px = pal[rng.randint(0, 4, (h, w))]
        blob = encode_qoi(px)
        assert blob[:4] == b"qoif"
        assert blob[-8:] == b"\x00" * 7 + b"\x01"
        assert (decode_qoi(blob) == px).all()
    long_run = np.zeros((3, 100, 3), np.uint8)  # forces the 62-run flush
    assert (decode_qoi(encode_qoi(long_run)) == long_run).all()
    import pytest as _pytest
    with _pytest.raises(ValueError):
        decode_qoi(b"nope" + b"\x00" * 30)
    with _pytest.raises(ValueError):
        decode_qoi(encode_qoi(long_run)[:-1])  # clipped end marker


def test_bq_packing_law_and_recall(spark, sf_dir):
    """Binary quantization: the JVM packing fold and the driver-side
    Python packer produce identical codes (same 32-dims-per-long
    MSB-first law), Hamming(self)=0, and the reranked top-k of the
    fixture query reproduces >=93% of the exact top-10 mass."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.catalog import table
    from datastore_mapper_spark.operators import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 1).first()
    dim = len(q["embedding"])
    enc_row = sim.bq_encode(e.filter(F.col("vec_id") == 1), dim).first()
    assert list(enc_row["bq"]) == sim._bq_pack_py(q["embedding"], dim)
    qlit = F.array(*[F.lit(float(v)) for v in q["embedding"]])
    exact = (
        e.filter(F.col("vec_id") != 1)
        .select("vec_id",
                F.round(sim.cosine(F.col("embedding"), qlit), 4)
                .alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id").limit(10)
    ).collect()
    approx = sim.bq_topk(e, dim, 1, k=10, candidates=128).collect()
    exm = sum(r.sim for r in exact)
    apm = sum(r.sim for r in approx)
    assert apm >= 0.93 * exm
    # missing query id -> empty frame, stable schema
    assert sim.bq_topk(e, dim, query_id=-1).count() == 0


def test_covariance_gram_matches_numpy(spark, sf_dir):
    """The partition-wise Gram reduction equals a single-machine numpy
    covariance bit-for-bit-close, and the eigensolve satisfies the
    graded invariants (trace, orthonormality, PSD)."""
    import numpy as np
    from pyspark.sql import functions as F

    from datastore_mapper_spark.catalog import table
    from datastore_mapper_spark.operators import similarity as sim

    e = table(spark, sf_dir, "embeddings")
    dim = int(e.select(F.size("embedding")).first()[0])
    n, mean, cov = sim.covariance_gram(e, dim)
    X = np.stack([r[0] for r in e.select("embedding").collect()]
                 ).astype(np.float64)
    assert n == X.shape[0]
    ref = (X.T @ X) / n - np.outer(X.mean(0), X.mean(0))
    assert np.max(np.abs(cov - ref)) < 1e-10
    w, v = sim.pca_eigh(cov)
    assert abs(w.sum() - np.trace(cov)) <= 1e-9 * abs(np.trace(cov))
    assert np.max(np.abs(v.T @ v - np.eye(dim))) <= 1e-8
    assert np.all(np.diff(w) <= 1e-12) and w.min() >= -1e-10
    # empty corpus -> (0, None, None)
    assert sim.covariance_gram(e.limit(0), dim)[0] == 0


def test_fisher_exact_tea_tasting():
    """The driver-side hypergeometric math reproduces the canonical
    tea-tasting table: [[3,1],[1,3]] -> two-sided p = 34/70."""
    import math

    a, b, c, d = 3, 1, 1, 3
    r1, c1, n = a + b, a + c, a + b + c + d
    lg = math.lgamma
    den = lg(n + 1) - lg(c1 + 1) - lg(n - c1 + 1)

    def pmf(k):
        return math.exp(lg(r1 + 1) - lg(k + 1) - lg(r1 - k + 1)
                        + lg(n - r1 + 1) - lg(c1 - k + 1)
                        - lg(n - r1 - c1 + k + 1) - den)

    lo, hi = max(0, r1 + c1 - n), min(r1, c1)
    p0 = pmf(a)
    p2 = sum(p for p in map(pmf, range(lo, hi + 1))
             if p <= p0 * (1 + 1e-7))
    assert abs(p2 - 34 / 70) < 1e-12
    assert abs(sum(pmf(k) for k in range(lo, hi + 1)) - 1.0) < 1e-12


def test_flac_vectorized_bitstream_pinned():
    """The round-16 vectorized Rice coder (packbits section builder,
    table CRCs, cumsum reconstruction ladder) must emit BYTE-IDENTICAL
    streams to the per-bit writer it replaced: the combined MD5s below
    were captured from the pre-vectorization encoder over the render
    law's full (n, slope, base) lattice plus adversarial signals
    (white noise, constants, +/-32767 alternation, multi-frame)."""
    import hashlib

    import numpy as np

    from datastore_mapper_spark.operators.multimodal import (
        decode_flac,
        encode_flac,
    )

    h = hashlib.md5()
    for i in list(range(200)) + [10**6 + 7, 12345678]:
        n = 200 + (i % 4) * 100
        t = np.arange(n, dtype=np.int64)
        sig = ((i % 50) * 20 + (i % 3) * t + (t * 7919) % 5 - 2) \
            .astype(np.int16)
        blob = encode_flac(sig, 8000 * ((i % 2) + 1))
        out, _ = decode_flac(blob)
        assert np.array_equal(sig, out)
        h.update(blob)
    assert h.hexdigest() == "7e99cb0298f367045e66342c9e8dccda"

    rng = np.random.default_rng(42)
    cases = [
        rng.integers(-32768, 32767, size=10000).astype(np.int16),
        np.full(5000, 123, np.int16),
        np.array([-32768, 32767] * 300, np.int16),
        np.zeros(1, np.int16),
        (np.arange(9000) % 256).astype(np.int16),
    ]
    h = hashlib.md5()
    for sig in cases:
        blob = encode_flac(sig, 44100)
        out, _ = decode_flac(blob)
        assert np.array_equal(sig, out)
        h.update(blob)
    assert h.hexdigest() == "f0d7c20673e7159b07c61932d61271a6"


def test_flac_round_trip_fuzz():
    """FLAC subset codec: encode->decode is the identity over ramps
    (fixed-predictor friendly), white noise (worst case), constants,
    sines, empty and 1-sample signals; multi-frame streams (>4096
    samples) exercise the frame walk; any bit corruption trips one of
    the three integrity layers (CRC-8 / CRC-16 / MD5)."""
    import numpy as np
    import pytest as _pytest

    from datastore_mapper_spark.operators.multimodal import (
        decode_flac,
        encode_flac,
    )

    rng = np.random.RandomState(11)
    cases = [
        (np.arange(5000, dtype=np.int16) % 3000),       # 2 frames
        rng.randint(-32768, 32767, 700).astype(np.int16),
        np.full(4096, -123, np.int16),
        (1000 * np.sin(np.arange(9000) / 20)).astype(np.int16),
        np.array([], dtype=np.int16),
        np.array([5], dtype=np.int16),
    ]
    for sig in cases:
        blob = encode_flac(sig, 16000)
        out, sr = decode_flac(blob)
        assert sr == 16000 and len(out) == len(sig)
        assert (out == sig).all()
    # the ramp compresses hard; noise must still round-trip
    ramp_blob = encode_flac(cases[0], 8000)
    assert len(ramp_blob) < len(cases[0])  # < half the raw PCM bytes
    corrupted = bytearray(ramp_blob)
    corrupted[60] ^= 0x40
    with _pytest.raises(ValueError):
        decode_flac(bytes(corrupted))
    with _pytest.raises(ValueError):
        decode_flac(b"not flac at all")


def test_remove_duplicate_spans_hand_corpus(spark):
    """Span removal on a hand-built corpus: first occurrence (by
    doc_id, position) survives, later cross-doc and intra-doc
    occurrences delete their token ranges, overlapping duplicated
    spans union their ranges, and short docs pass through."""
    from datastore_mapper_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c d e x"),
            (3, "z a b c d e f"),
            (4, "q w e r"),
            (5, "a b c d e a b c d e"),
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: (r.n_tokens_before, r.n_tokens_after, r.text_clean)
           for r in remove_duplicate_spans(docs, n=5).collect()}
    assert got[1] == (6, 6, "a b c d e f")   # holds every first occurrence
    assert got[2] == (6, 1, "x")             # cross-doc dup removed
    assert got[3] == (7, 1, "z")             # two overlapping dups union
    assert got[4] == (4, 4, "q w e r")       # < n tokens: untouched
    assert got[5] == (10, 0, "")             # intra-doc repeat fully dies


def test_recipe_span_removal_flag(spark):
    """pretraining_corpus_recipe(remove_dup_spans=True) prepends the
    substring-removal stage: it runs green and never INCREASES any
    split's token mass vs the default path."""
    from datastore_mapper_spark.queries.pipeline_extra import (
        pretraining_corpus_recipe,
    )

    sf = "/root/testdata/sf0.001"
    base = {r.split: r.sum_tokens
            for r in pretraining_corpus_recipe(spark, sf).collect()}
    clean = {r.split: r.sum_tokens
             for r in pretraining_corpus_recipe(
                 spark, sf, remove_dup_spans=True).collect()}
    assert clean  # stage composes end-to-end
    for s, tokens in clean.items():
        assert tokens <= base.get(s, tokens)


def test_png_adam7_roundtrip_and_previews():
    """Adam7: exact round trip under both pass filters, spec tiling,
    monotone progressive preview, and loud failure on corruption."""
    import numpy as np
    import pytest as _pytest

    from datastore_mapper_spark.operators.multimodal import (
        _ADAM7,
        decode_png_adam7_passes,
        decode_png_rgb8,
        encode_png_rgb8,
        encode_png_rgb8_adam7,
    )

    rng = np.random.default_rng(7)
    for w, h, ft in ((2, 2, 0), (9, 7, 0), (10, 5, 2), (3, 8, 2),
                     (16, 16, 0), (1, 1, 0)):
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        blob = encode_png_rgb8_adam7(px, filter_type=ft)
        W, H, final, previews = decode_png_adam7_passes(blob)
        assert (W, H) == (w, h)
        assert np.array_equal(final, px)
        assert len(previews) == 7
        assert np.array_equal(previews[-1], px)  # pass 7 = exact
        # the seven grids tile the image exactly once
        cover = np.zeros((h, w), dtype=np.int32)
        for x0, y0, dx, dy in _ADAM7:
            cover[y0::dy, x0::dx] += 1
        assert (cover == 1).all()
    # interlaced vs sequential: same pixels, different byte stream
    px = rng.integers(0, 256, size=(6, 11, 3), dtype=np.uint8)
    seq = encode_png_rgb8(px)
    inter = encode_png_rgb8_adam7(px)
    assert seq != inter
    assert np.array_equal(decode_png_rgb8(seq)[2],
                          decode_png_adam7_passes(inter)[2])
    # the passes decoder refuses a sequential blob, and vice-versa CRC
    with _pytest.raises(NotImplementedError):
        decode_png_adam7_passes(seq)
    corrupt = bytearray(inter)
    corrupt[40] ^= 0x01  # inside IDAT body -> CRC mismatch
    with _pytest.raises(ValueError):
        decode_png_adam7_passes(bytes(corrupt))


def test_tiff_packbits_container_paths():
    """TIFF/PackBits: random-image round trip, multi-strip coverage,
    and loud failures on big-endian, bad magic, truncated strips, and
    foreign compression tags."""
    import struct
    import numpy as np
    import pytest as _pytest

    from datastore_mapper_spark.operators.multimodal import (
        decode_tiff_packbits,
        encode_tiff_packbits,
    )

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    blob = encode_tiff_packbits(px)
    w, h, rgb, info = decode_tiff_packbits(blob)
    assert (w, h) == (5, 7) and np.array_equal(rgb, px)
    assert info["n_strips"] == 4  # ceil(7/2): last strip is short
    with _pytest.raises(NotImplementedError):
        decode_tiff_packbits(b"MM\x00\x2a" + blob[4:])
    with _pytest.raises(ValueError):
        decode_tiff_packbits(b"XX" + blob[2:])
    # flip the compression tag (259) to LZW (5): refused loudly
    (ifd_off,) = struct.unpack_from("<I", blob, 4)
    (n_entries,) = struct.unpack_from("<H", blob, ifd_off)
    mod = bytearray(blob)
    for i in range(n_entries):
        tag, = struct.unpack_from("<H", mod, ifd_off + 2 + 12 * i)
        if tag == 259:
            struct.pack_into("<H", mod, ifd_off + 2 + 12 * i + 8, 5)
    with _pytest.raises(NotImplementedError):
        decode_tiff_packbits(bytes(mod))
    # truncate the last strip's bytes: exact-length accounting trips
    with _pytest.raises(ValueError):
        decode_tiff_packbits(blob[:20])


def test_recipe_semantic_dedup_flag(spark):
    """pretraining_corpus_recipe(semantic_dedup=True) inserts the
    SemDeDup stage: flagged counts equal the unflagged counts minus
    exactly the semantically-pruned docs that survived the earlier
    stages (doc_id = vec_id shared id space)."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.catalog import table
    from datastore_mapper_spark.operators.dedup import semantic_dedup
    from datastore_mapper_spark.queries.pipeline_extra import (
        pretraining_corpus_recipe,
    )

    sf = "/root/testdata/sf0.001"
    base = {r.split: (r.n_docs, r.sum_tokens)
            for r in pretraining_corpus_recipe(spark, sf).collect()}
    sem = {r.split: (r.n_docs, r.sum_tokens)
           for r in pretraining_corpus_recipe(
               spark, sf, semantic_dedup=True).collect()}
    assert sem  # stage composes end-to-end
    n_base = sum(v[0] for v in base.values())
    n_sem = sum(v[0] for v in sem.values())
    emb = table(spark, sf, "embeddings").select("vec_id", "embedding")
    n_pruned = (semantic_dedup(emb, k=8, tau=0.95)
                .filter(F.col("dropped")).count())
    # every flagged-path doc is an unflagged-path doc; the deficit is
    # bounded by the pruned-embedding count (pruned ids may also have
    # died earlier in the quality/canonical stages)
    assert 0 <= n_base - n_sem <= n_pruned
    for s, (nd, tok) in sem.items():
        assert nd <= base[s][0] and tok <= base[s][1]


def test_semantic_dedup_greedy_fixpoint_vs_reference(spark):
    """semantic_dedup == the ANY-LOWER-ID-WITNESS rule (round-15
    ADVICE wording fix: deliberately NOT the iterative greedy
    fixpoint — the witness need not survive): on a crafted corpus
    (three tight direction clusters + isolated vectors + exact
    twins), a numpy brute-force reference of the SAME rule WITHIN
    the operator's own clusters reproduces the verdicts exactly, and
    the operator postconditions hold."""
    import numpy as np

    from pyspark.sql import functions as F

    from datastore_mapper_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(15)
    base = rng.normal(size=(3, 8))
    rows = []
    vid = 0
    for c in range(3):          # 6 jittered members per direction
        for _ in range(6):
            v = base[c] * rng.uniform(0.5, 2.0) \
                + rng.normal(scale=0.02, size=8)
            rows.append((vid, [float(x) for x in v])); vid += 1
    for _ in range(4):          # isolated randoms
        rows.append((vid, [float(x)
                           for x in rng.normal(size=8)])); vid += 1
    for src in (0, 7, 18):      # exact twins (higher ids)
        rows.append((100 + src, rows[src][1])); vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(emb, k=4, tau=0.95)
    got = {r.vec_id: (r.cid, r.dropped) for r in out.collect()}
    assert len(got) == len(rows)
    # reference: same rule, numpy, within the operator's clusters
    vecs = {i: np.array(v) / np.linalg.norm(v) for i, v in rows}
    by_cluster: dict[int, list[int]] = {}
    for i in sorted(vecs):
        by_cluster.setdefault(got[i][0], []).append(i)
    for cid, ids in by_cluster.items():
        for j in ids:
            expect = any(float(vecs[i] @ vecs[j]) >= 0.95
                         for i in ids if i < j)
            assert got[j][1] == expect, (cid, j)
    # twins always die; their sources' clusters match
    for src in (0, 7, 18):
        assert got[100 + src][1] is True
        assert got[100 + src][0] == got[src][0]


def test_semantic_dedup_mega_cluster_subblocks(spark):
    """Mega-cluster guard (round-15 VERDICT task 4): plant one
    cluster holding ~30% of the corpus and force the cap — the
    within-cluster join must fan out across sign-cell sub-blocks
    (>= 2 distinct cells, every block strictly smaller than the
    cluster), and the kept set must equal the numpy reference of the
    any-lower-id-witness rule applied per (cluster, cell) block."""
    import numpy as np

    from datastore_mapper_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(16)
    rows = []
    for vid in range(60):       # the mega direction: dominant dim 1,
        v = np.concatenate(     # dims 2-4 vary in sign -> 8 cells
            ([10.0], rng.normal(scale=1.0, size=7)))
        rows.append((vid, [float(x) for x in v]))
    for vid in range(60, 200):  # background corpus
        rows.append((vid, [float(x) for x in rng.normal(size=8)]))
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    cap = 30
    out = semantic_dedup(emb, k=5, tau=0.95, max_cluster_rows=cap)
    got = {r.vec_id: (r.cid, r.dropped) for r in out.collect()}
    assert len(got) == len(rows)
    # reference: same blocks, same rule, numpy
    vecs = {i: np.array(v) / np.linalg.norm(v) for i, v in rows}

    def cell(i: int) -> int:    # mirrors similarity.sign_bucket(_, 4)
        return sum(1 << (3 - d) for d in range(4) if vecs[i][d] > 0)

    by_cluster: dict[int, list[int]] = {}
    for i in sorted(vecs):
        by_cluster.setdefault(got[i][0], []).append(i)
    mega_cid = max(by_cluster, key=lambda c: len(by_cluster[c]))
    assert len(by_cluster[mega_cid]) >= 50   # the plant really blocked
    blocks: dict[tuple, list[int]] = {}
    for cid, ids in by_cluster.items():
        oversized = len(ids) > cap
        for i in ids:
            blocks.setdefault((cid, cell(i) if oversized else 0),
                              []).append(i)
    for (cid, _cl), ids in blocks.items():
        for j in ids:
            expect = any(float(vecs[i] @ vecs[j]) >= 0.95
                         for i in ids if i < j)
            assert got[j][1] == expect, (cid, _cl, j)
    # fan-out receipt: the mega cluster really split
    mega_blocks = [b for b in blocks if b[0] == mega_cid]
    assert len(mega_blocks) >= 2
    assert max(len(blocks[b]) for b in mega_blocks) \
        < len(by_cluster[mega_cid])


def test_domain_mixture_budget_properties(spark):
    """sample_domain_mixture_budget invariants beyond the oracle:
    every domain's sampled token mass respects its allocation, the
    cap binds globally, and the greedy fill is MAXIMAL (the next
    unsampled doc in u-order would overflow the allocation)."""
    from pyspark.sql import functions as F

    from datastore_mapper_spark.registry import all_queries

    S = all_queries()
    sf = "/root/testdata/sf0.01"
    out = S["sample_domain_mixture_budget"].fn(spark, sf).collect()
    assert out
    total = sum(r.n_tok_domain for r in out)
    budget, cap = total // 5, (total // 5) // 50
    for r in out:
        assert r.tok_sampled <= r.alloc_tokens <= cap
        assert r.n_docs_sampled <= r.n_docs_domain
    # maximality: per domain, the smallest-u unsampled doc would
    # overflow (recompute the u-order prefix independently)
    d = S["sample_domain_mixture_budget"]  # reuse the same law inline
    from datastore_mapper_spark.catalog import table

    docs = table(spark, sf, "documents").select(
        "doc_id", "lang", "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        (((F.col("doc_id") * F.lit(1103515245) + F.lit(12345))
          % F.lit(2147483648)).cast("double")
         / F.lit(2147483648.0)).alias("u")).collect()
    per = {}
    for row in sorted(docs, key=lambda x: (x.u, x.doc_id)):
        per.setdefault((row.lang, row.source), []).append(row.n_tok)
    for r in out:
        toks = per[(r.lang, r.source)]
        run = k = 0
        for t in toks:
            if run + t > r.alloc_tokens:
                break
            run += t; k += 1
        assert (k, run) == (r.n_docs_sampled, r.tok_sampled)
