"""Generate the FROZEN input literals for the r13 OPQ / residual-IVF-PQ
contract entries: OPQ_ROTATION + OPQ_CODEBOOKS (trained once by
`opq_train(m=8, k=8, iters=5, opq_iters=6, sample=2048)` on the sf0.01
embeddings) and PQ_RESIDUAL_CODEBOOKS (`_pq_fit` on the id-ordered
sample's residuals against the already-frozen SEMDEDUP_CENTROIDS).

Like SEMDEDUP_CENTROIDS / PQ_CODEBOOKS these are INPUTS of the entries,
not outputs — the oracle replays encode + ADC from the same literals, so
a regression in the engine's scoring path fails the contract while a
(deterministic) retraining difference cannot silently move the oracle.
Paste the printed block into __spark_entry__.py ONCE and commit.

    python tools/gen_ann_opq_expected.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import spark_session  # noqa: E402


def main() -> None:
    spark = spark_session(8)
    import importlib.util

    import numpy as np

    from seqspark.data import load_table
    from seqspark.pipeline import ann

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    # sample_order="id": the frozen fixtures stay in the oracle-replay
    # order (the entry's DuckDB CTEs replay the sample as ORDER BY vec_id
    # LIMIT 2048) — the drift-robust md5(id) default is for live corpora
    R, books = ann.opq_train(emb, m=8, k=8, iters=5, opq_iters=6,
                             sample=2048, sample_order="id")

    def fmt_mat(name, mat, comment):
        print(f"#: {comment}")
        print(f"{name} = [")
        for row in mat:
            print("    [" + ", ".join(repr(x) for x in row) + "],")
        print("]")

    def fmt_books(name, bks, comment):
        print(f"#: {comment}")
        print(f"{name} = [")
        for cb in bks:
            print("    [")
            for c in cb:
                print("        [" + ", ".join(repr(x) for x in c) + "],")
            print("    ],")
        print("]")

    print()
    fmt_mat("OPQ_ROTATION", R,
            "frozen OPQ rotation (64x64, orthogonal): trained ONCE by "
            "opq_train(m=8, k=8,\n#: iters=5, opq_iters=6, sample=2048, "
            "sample_order=\"id\") on the sf0.01 embeddings"
            " — an INPUT\n#: of the entry (the "
            "SEMDEDUP_CENTROIDS standing)")
    print()
    fmt_books("OPQ_CODEBOOKS", books,
              "frozen OPQ codebooks (m=8 x k=8 x 8 dims) from the same "
              "training run")
    print()

    # residual codebooks against the frozen SemDeDup centroids
    cents = entry.SEMDEDUP_CENTROIDS
    cells = ann.ivf_assign(emb, cents).select("vec_id", "cell", "embedding")
    crows = cells.orderBy("vec_id").limit(2048).collect()
    Xr = np.array([
        np.array(r["embedding"], dtype=np.float64)
        - np.array(cents[r["cell"]], dtype=np.float64)
        for r in crows
    ])
    books_r = [
        [[round(float(x), 6) for x in c] for c in C]
        for C in ann._pq_fit(Xr, 8, 8, 5)
    ]
    fmt_books(
        "PQ_RESIDUAL_CODEBOOKS", books_r,
        "frozen residual-PQ codebooks (m=8 x k=8 x 8 dims): _pq_fit on "
        "the sf0.01\n#: sample's residuals against the frozen "
        "SEMDEDUP_CENTROIDS (ivf_assign cells)")
    spark.stop()


if __name__ == "__main__":
    main()
