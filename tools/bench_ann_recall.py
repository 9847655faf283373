"""Measured ANN recall@k vs brute-force on the driver's embeddings table.

Sweeps the two approximate paths' knobs so the recall/candidate-fraction
trade-off is a TABLE of measured numbers, not a claim:

- hyperplane-LSH (`lsh_topk`): bits x bands — recall rises with bands
  (more OR-ed chances to collide) and falls with band width;
- IVF (`ivf_topk`): nprobe — recall rises with probed cells, scan
  fraction rises linearly with it.

Recall@k = |approx_topk ∩ brute_topk| / k averaged over N query vectors
drawn from the table itself (self-queries removed from neither side —
both rankers see identical data). One JSON line.

Usage: python tools/bench_ann_recall.py [--sf /root/testdata/sf0.1]
       [--queries 20] [--k 10]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import spark_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", type=int, default=20)
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    spark = spark_session()
    from seqspark.data import load_table
    from seqspark.pipeline import ann

    emb = load_table(spark, args.sf, "embeddings").cache()
    n = emb.count()
    qrows = (
        emb.filter(F.col("vec_id") % max(1, n // args.queries) == 3)
        .limit(args.queries)
        .collect()
    )
    queries = [list(r.embedding) for r in qrows]
    dim = len(queries[0])
    k = args.k

    def topk_ids(df) -> set:
        return {r.vec_id for r in df.collect()}

    truth = [topk_ids(ann.brute_topk(emb, q, k)) for q in queries]

    out = {"metric": "seqspark_ann_recall", "n_vectors": n, "dim": dim,
           "k": k, "n_queries": len(queries), "lsh": [], "ivf": [],
           "pq": []}

    sweeps = ((16, (2, 4, 8)), (32, (8,)))
    for bits, band_list in sweeps:
        # the sketch depends only on (bits, seed) — build it ONCE per
        # bits value and sweep bands against the cached frame
        sk = ann.hyperplane_sketch(emb, "embedding", bits=bits, seed=7,
                                   dim=dim).cache()
        sk.count()
        planes = ann._hyperplanes(dim, bits, 7)
        for bands in band_list:
            recall = cand_frac = 0.0
            for q, t in zip(queries, truth):
                approx = ann.lsh_topk(sk, q, k, bits=bits, bands=bands,
                                      seed=7)
                recall += len(topk_ids(approx) & t) / k
                # candidate fraction: rows surviving THE filter lsh_topk
                # applies (shared predicate — never re-derived here)
                qs = ann._sketch_of(q, planes)
                cand_frac += sk.filter(
                    ann.lsh_band_condition("sketch", qs, bits, bands)
                ).count() / n
            out["lsh"].append({
                "bits": bits, "bands": bands,
                "recall_at_k": round(recall / len(queries), 3),
                "candidate_fraction": round(cand_frac / len(queries), 3),
            })
        sk.unpersist()

    n_cells = max(4, int(n ** 0.5) // 4)
    centroids = ann.ivf_train(emb, k=n_cells, iters=5)
    assigned = ann.ivf_assign(emb, centroids).cache()
    assigned.count()
    for nprobe in (1, 2, 4, 8):
        recall = 0.0
        for q, t in zip(queries, truth):
            approx = ann.ivf_topk(assigned, centroids, q, k, nprobe=nprobe)
            recall += len(topk_ids(approx) & t) / k
        out["ivf"].append({
            "n_cells": n_cells, "nprobe": nprobe,
            "scan_fraction": round(nprobe / n_cells, 3),
            "recall_at_k": round(recall / len(queries), 3),
        })
    # PQ (r12b): recall vs exact-L2 truth (PQ's metric), swept over
    # codebook size; code bytes per vector = m (vs dim*8 raw)
    truth_l2 = [topk_ids(ann.brute_l2_topk(emb, q, k)) for q in queries]
    for kc in (16, 64, 256):
        try:
            books = ann.pq_train(emb, m=8, k=kc, iters=4, sample=4096)
        except ValueError:
            continue  # corpus smaller than kc distinct subvectors
        codes = ann.pq_encode(emb, books).cache()
        codes.count()
        recall = 0.0
        for q, t in zip(queries, truth_l2):
            approx = ann.pq_topk(codes, books, q, k)
            recall += len(topk_ids(approx) & t) / k
        rerank = 0.0
        for q, t in zip(queries, truth_l2):
            approx = ann.pq_rerank_topk(codes, emb, books, q, k)
            rerank += len(topk_ids(approx) & t) / k
        out["pq"].append({
            "m": 8, "k_codes": kc,
            "code_bytes_per_vec": 8,
            "raw_bytes_per_vec": dim * 8,
            "recall_at_k": round(recall / len(queries), 3),
            "recall_at_k_rerank4k": round(rerank / len(queries), 3),
        })
        codes.unpersist()

    # SQ8 (r14): per-dim scalar quantization — the 4x-at-rest /
    # near-exact-recall point, measured against the same exact-L2 truth
    sq_bounds = ann.sq_train(emb, sample=4096)
    sq_codes = ann.sq_encode(emb, sq_bounds).cache()
    sq_codes.count()
    recall = 0.0
    for q, t in zip(queries, truth_l2):
        recall += len(
            topk_ids(ann.sq_topk(sq_codes, sq_bounds, q, k)) & t) / k
    out["sq"] = [{
        "code_bytes_per_vec": dim,
        "raw_bytes_per_vec": dim * 8,
        "recall_at_k": round(recall / len(queries), 3),
    }]
    sq_codes.unpersist()

    # OPQ (r13): identical scan cost and code layout as PQ — any recall
    # delta is pure rotation (Ge et al. 2013 OPQ-NP alternation)
    out["opq"] = []
    for kc in (16, 64):
        try:
            R, books = ann.opq_train(emb, m=8, k=kc, iters=4,
                                     opq_iters=6, sample=4096)
        except ValueError:
            continue
        codes = ann.pq_encode(emb, books, rotation=R).cache()
        codes.count()
        recall = 0.0
        for q, t in zip(queries, truth_l2):
            recall += len(topk_ids(ann.opq_topk(codes, books, R, q, k))
                          & t) / k
        out["opq"].append({
            "m": 8, "k_codes": kc, "code_bytes_per_vec": 8,
            "recall_at_k": round(recall / len(queries), 3),
        })
        codes.unpersist()

    # residual IVF-PQ (r13) vs plain IVF-PQ at the SAME nprobe and the
    # SAME codebook budget — the delta is pure residual encoding
    out["ivf_pq"] = []
    try:
        import numpy as np

        books_p = ann.pq_train(emb, m=8, k=64, iters=4, sample=4096)
        cells = assigned.select("vec_id", "cell", "embedding")
        plain_codes = ann.pq_encode(emb, books_p).join(
            assigned.select("vec_id", "cell"), "vec_id").cache()
        plain_codes.count()
        crows = cells.orderBy("vec_id").limit(4096).collect()
        Xr = np.array([
            np.array(r["embedding"]) - np.array(centroids[r["cell"]])
            for r in crows
        ])
        books_r = [
            [[round(float(x), 6) for x in c] for c in C]
            for C in ann._pq_fit(Xr, 8, 64, 4)
        ]
        rcodes = ann.pq_encode_residual(cells, centroids, books_r).cache()
        rcodes.count()
        for nprobe in (2, 4, 8):
            rec_p = rec_r = 0.0
            for q, t in zip(queries, truth_l2):
                rec_p += len(topk_ids(ann.ivf_pq_topk(
                    plain_codes, centroids, books_p, q, k,
                    nprobe=nprobe)) & t) / k
                rec_r += len(topk_ids(ann.ivf_pq_residual_topk(
                    rcodes, centroids, books_r, q, k,
                    nprobe=nprobe)) & t) / k
            out["ivf_pq"].append({
                "m": 8, "k_codes": 64, "n_cells": n_cells,
                "nprobe": nprobe,
                "scan_fraction": round(nprobe / n_cells, 3),
                "recall_at_k_plain": round(rec_p / len(queries), 3),
                "recall_at_k_residual": round(rec_r / len(queries), 3),
            })
        plain_codes.unpersist()
        rcodes.unpersist()
    except ValueError:
        pass  # corpus too small for k=64 codebooks
    print(json.dumps(out))


if __name__ == "__main__":
    main()
