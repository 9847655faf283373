"""BPE encode-path envelope: where does the literal replace-chain stop
being a reasonable plan, and what does the dictionary path cost instead?

The chain is linear in n_merges PER TOKEN — plan size, codegen constant
pool, and per-row work all grow with the merge count. This bench times,
for growing synthetic merge lists (real merges top out at the synthetic
corpus's vocabulary; depth cost is what matters, so pads are non-matching
pairs which still pay the replace scan):

- plan_build_s: driver-side Column-tree + analysis time for the chain
- chain_exec_s: full corpus encode via bpe_encoded (per-token chain)
- dict_exec_s:  bpe_encoded_via_dict (chain once per DISTINCT word,
  positional reassembly join)
- dict_driver_exec_s: via-dict with the driver encoder (plan-depth-free)

Usage: python tools/bench_bpe_encode.py [--sf-dir /root/testdata/sf0.01]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import spark_session
from seqspark.data import load_table
from seqspark.pipeline.bpe import (
    bpe_encoded,
    bpe_encoded_via_dict,
    train_bpe,
)


def pad_merges(real, n):
    """Extend a real merge list to n entries with non-matching pairs
    (two-char symbols that the char-split vocabulary never produces
    adjacently) — each still costs a full replace scan per token."""
    out = list(real)
    i = 0
    while len(out) < n:
        out.append((f"q{i}", f"z{i}"))
        i += 1
    return out[:n]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--sizes", default="160,1000,4000")
    ap.add_argument("--budget-s", type=float, default=240.0,
                    help="skip larger sizes once a chain build+run exceeds this")
    args = ap.parse_args()

    spark = spark_session(conf={"spark.driver.memory": "16g"})
    docs = load_table(spark, args.sf_dir, "documents").cache()
    n_docs = docs.count()

    real = train_bpe(docs, n_merges=160, vocab_k=4000)
    results = {}
    chain_dead = dict_chain_dead = False

    def attempt(fn):
        t0 = time.perf_counter()
        try:
            fn()
            return round(time.perf_counter() - t0, 2), None
        except Exception as e:  # StackOverflowError surfaces as Py4JJavaError
            msg = str(e)
            kind = (
                "StackOverflowError" if "StackOverflowError" in msg
                else type(e).__name__
            )
            return None, kind

    for n in [int(s) for s in args.sizes.split(",")]:
        merges = pad_merges(real, n)
        row = {}
        if not chain_dead:
            sec, err = attempt(
                lambda: bpe_encoded(docs, merges)
                .agg(F.sum("n_bpe_tokens"))
                .collect()
            )
            row["chain_exec_s"], row["chain_err"] = sec, err
            if err or (sec or 0) > args.budget_s:
                chain_dead = True
        if not dict_chain_dead:
            sec, err = attempt(
                lambda: bpe_encoded_via_dict(docs, merges, dict_mode="chain")
                .agg(F.sum("n_bpe_tokens"))
                .collect()
            )
            row["dict_exec_s"], row["dict_err"] = sec, err
            if err or (sec or 0) > args.budget_s:
                dict_chain_dead = True
        sec, err = attempt(
            lambda: bpe_encoded_via_dict(docs, merges, dict_mode="driver")
            .agg(F.sum("n_bpe_tokens"))
            .collect()
        )
        row["dict_driver_exec_s"], row["dict_driver_err"] = sec, err
        results[str(n)] = row

    print(json.dumps({
        "metric": "seqspark_bpe_encode_envelope",
        "sf_dir": args.sf_dir,
        "n_docs": n_docs,
        "real_merges": len(real),
        "by_n_merges": results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
