"""Unigram-LM tokenizer envelope: training time over the driver corpus
and dictionary-encode throughput, next to the equivalent BPE numbers so
the two families are comparable on the same box.

Usage: python tools/bench_unigram.py [--sf /root/testdata/sf0.1]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import CPUS, spark_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--vocab", type=int, default=400)
    args = ap.parse_args()

    spark = spark_session()
    from seqspark.data import load_table
    from seqspark.pipeline import unigram
    from seqspark.pipeline.bpe import bpe_word_counts

    docs = load_table(spark, args.sf, "documents").cache()
    n_docs = docs.count()
    counts = bpe_word_counts(docs).cache()
    n_words = counts.count()
    res = {"metric": "seqspark_unigram_bench", "sf": args.sf,
           "docs": n_docs, "distinct_words": n_words,
           "vocab_size": args.vocab, "cpus": CPUS}

    t0 = time.perf_counter()
    pieces = unigram.train_unigram_from_counts(
        counts, vocab_size=args.vocab, vocab_k=8000, seed_size=3000,
        em_iters=2)
    res["train_sec"] = round(time.perf_counter() - t0, 2)
    res["pieces"] = len(pieces)

    # warm-up then measure the corpus encode (dictionary-join plan)
    unigram.unigram_encoded(docs.limit(50), pieces).count()
    t0 = time.perf_counter()
    total = unigram.unigram_encoded(docs, pieces).selectExpr(
        "sum(n_unigram_tokens)").collect()[0][0]
    dt = time.perf_counter() - t0
    res["encode_sec"] = round(dt, 2)
    res["tokens"] = int(total)
    res["tokens_per_sec"] = round(total / dt)

    t0 = time.perf_counter()
    total2 = unigram.unigram_encoded_sampled(
        docs, pieces, k=4, seed=7, alpha=0.2).selectExpr(
        "sum(n_unigram_tokens)").collect()[0][0]
    dt2 = time.perf_counter() - t0
    res["encode_sampled_sec"] = round(dt2, 2)
    res["sampled_tokens_per_sec"] = round(total2 / dt2)
    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
