"""BPE TRAIN envelope (r10 verdict #6 — the encode side was measured in
tools/bench_bpe_encode.py; this measures the other half): where does the
driver-side merge loop (`bpe.train_bpe_from_counts`, O(vocab x merges)
naive recount per round) become the wall as the target merge count grows
toward a production 32k vocabulary?

The corpus-scale work (one word-count aggregation) is measured once and
separately — it does not grow with n_merges, which is the whole design
point. The merge loop runs on the SAME collected counts at increasing
n_merges; the loop naturally terminates when no pair reaches
min_pair_count, so the envelope also reports the merges actually
produced (a bounded vocab_k word table exhausts its pairs well before
32k).

The sf0.1 documents fixture has only ~31 distinct words (template
text), so its pair supply dies at ~107 merges — fine for the corpus-agg
number, useless for the loop envelope. ``--synth N`` swaps in a
deterministic Zipf-count pseudo-vocabulary (seeded RNG, 3-12 letter
words, count ∝ 1/rank) so the merge loop is measured against a
realistic word table all the way to 32k merge targets.

Usage: python tools/bench_bpe_train.py [sf_dir] [--vocab-k 4000]
                                       [--synth 50000]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import spark_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--vocab-k", type=int, default=4000)
    ap.add_argument("--merge-points", default="160,640,2560,10240,32768")
    ap.add_argument(
        "--synth", type=int, default=0,
        help="use a deterministic N-word Zipf pseudo-vocabulary instead "
        "of the corpus word counts (the fixture has ~31 distinct words)",
    )
    args = ap.parse_args()

    from seqspark.data import load_table
    from seqspark.pipeline.bpe import bpe_word_counts, train_bpe_from_counts

    spark = spark_session()

    if args.synth:
        import random

        rng = random.Random(13)
        seen = set()
        rows = []
        rank = 1
        while len(rows) < args.synth:
            w = "".join(
                rng.choice("abcdefghijklmnopqrstuvwxyz")
                for _ in range(rng.randint(3, 12))
            )
            if w in seen:
                continue
            seen.add(w)
            rows.append((w, max(2, 1_000_000 // rank)))
            rank += 1
        counts = spark.createDataFrame(rows, "w string, n long").localCheckpoint()
        n_distinct, agg_sec = len(rows), None
    else:
        docs = load_table(spark, args.sf_dir, "documents")
        t0 = time.perf_counter()
        counts = bpe_word_counts(docs).localCheckpoint()
        n_distinct = counts.count()
        agg_sec = round(time.perf_counter() - t0, 3)

    points = []
    for n_merges in (int(x) for x in args.merge_points.split(",")):
        t0 = time.perf_counter()
        merges = train_bpe_from_counts(
            counts, n_merges=n_merges, vocab_k=args.vocab_k
        )
        points.append(
            {
                "n_merges_requested": n_merges,
                "n_merges_produced": len(merges),
                "train_sec": round(time.perf_counter() - t0, 3),
            }
        )
        if len(merges) < n_merges:
            # pair supply exhausted: larger requests measure the same loop
            break

    print(
        json.dumps(
            {
                "metric": "seqspark_bpe_train_envelope",
                "sf_dir": args.sf_dir,
                "vocab_k": args.vocab_k,
                "distinct_words": n_distinct,
                "word_count_agg_sec": agg_sec,
                "points": points,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
