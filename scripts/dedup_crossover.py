#!/usr/bin/env python
"""Near-dup method crossover study (round-6 VERDICT task 8).

Generates synthetic corpora of increasing size with planted near-dup
pairs (J >= 0.8) over a Zipf-ish vocabulary (real stopword mass, so the
df-cap path has something to cap), then measures, per corpus size x
method:

  wall-clock seconds and recall vs the exact J>=0.8 pair set

for the three candidate-generation strategies the engine ships:

  - prefix   : lossless PPJoin-style prefix filtering
               (operators/dedup.jaccard_prefix_candidates)
  - df_cap   : inverted-index join over tokens with df <= cap
               (operators/dedup.capped_jaccard_pairs; lossy only for
               pairs whose EVERY shared token is above-cap)
  - lsh      : MinHash banding (operators/dedup.minhash_signatures +
               lsh_candidate_pairs), exact-verified
  - bitset   : packed-bitset blocked matmul kernel, run through
               operators/bitset.pair_survivors — exact like prefix,
               but ~all-pairs work with a tiny per-pair constant;
               reported as "routed to index" where bitset.kernel_fits
               (the route.CAPS predicate pair_survivors routes by, on
               doc count and vocabulary size) says no.  A second
               TINY-VOCABULARY corpus section (the degenerate regime
               where every index method collapses — the shape of the
               round-8 fixture tail) shows where the kernel wins.

Ground truth = the prefix method's output: it is proven lossless
against a brute-force all-pairs oracle by hypothesis suites
(tests/test_property_differential.py) and by the driver-green
neardup_jaccard_prefix contract row, so at study scale it doubles as
the exact pair set.  Output: one markdown table on stdout — paste into
SCALE.md §"Near-dup method crossover".

Usage: python scripts/dedup_crossover.py [sizes...]   (default 1000 3000 10000)
"""

from __future__ import annotations

import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VOCAB_COMMON = [f"the{i}" for i in range(30)]      # stopword pool (huge df)
VOCAB_RARE_N = 50_000                               # long-tail vocabulary
DOC_LEN = 24                                        # distinct tokens per doc
DUP_FRACTION = 0.25                                 # docs that get a near-dup twin
THETA = (4, 5)                                      # J >= 0.8
DF_CAP = 200
SEED = 7


def make_corpus(n_docs: int) -> list[tuple[int, list[str]]]:
    """Background docs mix ~1/3 stopwords + rare tail; each planted twin
    perturbs 2 of 24 tokens (J = 22/26 ≈ 0.846 >= 0.8).  ~2% of docs are
    STOPWORD-ONLY with an identical twin — the pairs the df-cap path
    provably loses (every shared token above cap), so its recall column
    reflects the lossy regime, not just the easy one."""
    rng = random.Random(SEED)
    docs: list[tuple[int, list[str]]] = []
    next_id = 0
    while next_id < n_docs:
        if rng.random() < 0.02 and next_id + 1 < n_docs:
            toks = sorted(rng.sample(VOCAB_COMMON, 12))
            docs.append((next_id, toks))
            docs.append((next_id + 1, list(toks)))
            next_id += 2
            continue
        toks = rng.sample(VOCAB_COMMON, 8) + [
            f"w{rng.randrange(VOCAB_RARE_N)}" for _ in range(DOC_LEN - 8)
        ]
        toks = sorted(set(toks))
        docs.append((next_id, toks))
        next_id += 1
        if rng.random() < DUP_FRACTION and next_id < n_docs:
            twin = list(toks)
            for _ in range(2):
                twin[rng.randrange(len(twin))] = f"w{rng.randrange(VOCAB_RARE_N)}"
            docs.append((next_id, sorted(set(twin))))
            next_id += 1
    return docs


def make_corpus_tiny_vocab(n_docs: int) -> list[tuple[int, list[str]]]:
    """The DEGENERATE regime (the round-8 fixture tail's shape): ~60
    distinct tokens total, so every token is a stopword, Σ df² ~ n²·L
    and every inverted-index candidate rule collapses toward
    all-pairs.  Same planted-twin construction as make_corpus."""
    rng = random.Random(SEED + 1)
    vocab = [f"t{i}" for i in range(60)]
    docs: list[tuple[int, list[str]]] = []
    next_id = 0
    while next_id < n_docs:
        toks = sorted(set(rng.sample(vocab, DOC_LEN)))
        docs.append((next_id, toks))
        next_id += 1
        if rng.random() < DUP_FRACTION and next_id < n_docs:
            twin = list(toks)
            for _ in range(2):
                twin[rng.randrange(len(twin))] = rng.choice(vocab)
            docs.append((next_id, sorted(set(twin))))
            next_id += 1
    return docs


def jaccard_ok(inter, sz1, sz2):
    return inter * THETA[1] >= (sz1 + sz2 - inter) * THETA[0]


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [1000, 3000, 10000]

    from pyspark.sql import functions as F

    from datastore_mapper_spark.operators import dedup as dd
    from datastore_mapper_spark.session import get_session

    spark = get_session("dedup-crossover")
    spark.sparkContext.setLogLevel("ERROR")

    for label, maker in (
        ("healthy vocab (50k tail)", make_corpus),
        ("tiny vocab (60 tokens)", make_corpus_tiny_vocab),
    ):
      print(f"\n### {label}")
      print("| corpus docs | method | time (s) | pairs | recall |")
      print("| --- | --- | --- | --- | --- |")
      for n in sizes:
        corpus = maker(n)
        doc_toks = spark.createDataFrame(
            corpus, "doc_id long, toks array<string>"
        ).localCheckpoint()  # corpus generation off the clock for every method

        def run_prefix():
            pairs = dd.jaccard_prefix_candidates(doc_toks, *THETA)
            return {
                (r.d1, r.d2)
                for r in pairs.collect()
                if jaccard_ok(r.inter, r.sz1, r.sz2)
            }

        def run_df_cap():
            pairs = dd.capped_jaccard_pairs(doc_toks, DF_CAP)
            return {
                (r.d1, r.d2)
                for r in pairs.collect()
                if jaccard_ok(r.inter, r.sz1, r.sz2)
            }

        def run_lsh():
            docs = doc_toks.select(
                "doc_id", F.array_join("toks", " ").alias("text")
            )
            sigs = dd.minhash_signatures(docs)
            cands = dd.lsh_candidate_pairs(sigs)
            verified = dd.verify_jaccard(cands, docs, threshold=0.8)
            return {(r.d1, r.d2) for r in verified.collect()}

        def run_bitset():
            from datastore_mapper_spark.operators.bitset import (
                dictionary_ids,
                kernel_fits,
                pair_survivors,
            )

            toks = doc_toks.select("doc_id", F.explode("toks").alias("tok"))
            gid = dictionary_ids(toks, "tok")
            v = gid.count()
            if not kernel_fits(len(corpus), v):
                return None  # pair_survivors would run its index join
            pairs = pair_survivors(
                {"tk": toks.join(F.broadcast(gid), "tok")
                 .select("doc_id", "gid")},
                "doc_id", "tk",
                lambda inter, s1, s2, least, greatest: (
                    jaccard_ok(inter["tk"], s1["tk"], s2["tk"])),
                len(corpus), v,
            )
            return {(r.d1, r.d2) for r in pairs.collect()}

        methods = [
            ("prefix", run_prefix),
            ("df_cap", run_df_cap),
            ("lsh", run_lsh),
            ("bitset", run_bitset),
        ]
        truth: set | None = None
        for name, fn in methods:
            t0 = time.perf_counter()
            got = fn()
            dt = time.perf_counter() - t0
            if got is None:
                print(f"| {n} | {name} | — | — | routed to index (kernel_fits=False) |",
                      flush=True)
                continue
            if truth is None:
                truth = got  # prefix runs first and is lossless
            recall = len(got & truth) / len(truth) if truth else 1.0
            print(
                f"| {n} | {name} | {dt:.1f} | {len(got)} | {recall:.3f} |",
                flush=True,
            )


if __name__ == "__main__":
    main()
