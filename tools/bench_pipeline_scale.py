"""Pipeline-operator decade bench: duplicated-span removal and fuzzy
contamination at sf0.01, sf0.1, and an sf1-equivalent (factor x
replication of sf0.1's documents), so the per-decade growth trend is a
measured number across TWO decades instead of one.

Replication makes every document an exact k-gram duplicate of its
replicas — for span removal that is the heavy-duplication regime the
operator exists for (nearly every position covered), i.e. the worst
case for reassembly, which the round-8 positional anti-join made linear
per doc.

Usage:
    python tools/bench_pipeline_scale.py [--runs 2] [--factor 10]

Prints one JSON line:
    {"metric": "seqspark_pipeline_scale", "factor": 10,
     "span_removal": {"sf0.01": s, "sf0.1": s, "sf1eq": s},
     "fuzzy_contamination": {...}, "ratio_per_decade": {...}}
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import spark_session
from seqspark.data import load_table


def timed(fn, runs: int) -> float:
    out = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return round(min(out), 4)


def span_job(docs):
    from seqspark.pipeline.dedup import duplicate_span_removal

    def run():
        duplicate_span_removal(docs, k=8).select(
            F.sum(F.length("clean_text"))
        ).collect()

    return run


def fuzzy_job(docs):
    from seqspark.pipeline.scrub import fuzzy_contamination_pairs

    train = docs.filter(F.col("doc_id") % 2 == 0).withColumnRenamed(
        "doc_id", "train_id"
    )
    test = docs.filter(F.col("doc_id") % 2 == 1).withColumnRenamed(
        "doc_id", "test_id"
    )

    def run():
        fuzzy_contamination_pairs(
            train, test, "train_id", "text", "test_id", "text",
            n=3, threshold=0.4, max_df=100,
        ).count()

    return run


def shuffle_job(docs):
    from seqspark.pipeline.sampling import train_shuffle

    def run():
        train_shuffle(docs, "doc_id", shards=256, seed="bench").agg(
            F.max("pos"), F.sum("shard")
        ).collect()

    return run


def dsir_job(docs):
    from seqspark.pipeline.textstats import dsir_select

    target = docs.filter(F.col("lang") == "en")

    def run():
        dsir_select(
            docs, target, "doc_id", k=1000, dim=10_000, seed=3
        ).count()

    return run


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--factor", type=int, default=10)
    args = ap.parse_args()

    spark = spark_session(conf={"spark.driver.memory": "16g"})

    base_dir = tempfile.mkdtemp(prefix="seqspark-pipescale-")
    big_path = os.path.join(base_dir, f"documents_x{args.factor}")

    d001 = load_table(spark, "/root/testdata/sf0.01", "documents")
    d01 = load_table(spark, "/root/testdata/sf0.1", "documents")
    # sf1-equivalent: factor x replicas with disjoint numeric ids (materialized
    # to parquet so all three scales read the same at-rest format)
    t0 = time.perf_counter()
    max_id = d01.agg(F.max("doc_id")).head()[0] + 1
    rep = (
        d01.withColumn(
            "__r", F.explode(F.sequence(F.lit(0), F.lit(args.factor - 1)))
        )
        .withColumn("doc_id", F.col("doc_id") + F.col("__r") * F.lit(max_id))
        .drop("__r")
    )
    rep.write.parquet(big_path)
    d1 = spark.read.parquet(big_path)
    setup = round(time.perf_counter() - t0, 2)
    counts = {"sf0.01": d001.count(), "sf0.1": d01.count(), "sf1eq": d1.count()}

    results: dict[str, dict[str, float]] = {}
    for name, job in (("span_removal", span_job),
                      ("fuzzy_contamination", fuzzy_job),
                      ("train_shuffle", shuffle_job),
                      ("dsir_select", dsir_job)):
        results[name] = {
            "sf0.01": timed(job(d001), args.runs),
            "sf0.1": timed(job(d01), args.runs),
            "sf1eq": timed(job(d1), args.runs),
        }
    ratio = {
        name: {
            "decade1": round(r["sf0.1"] / r["sf0.01"], 2),
            "decade2": round(r["sf1eq"] / r["sf0.1"], 2),
        }
        for name, r in results.items()
    }
    print(json.dumps({
        "metric": "seqspark_pipeline_scale",
        "factor": args.factor,
        "runs": args.runs,
        "setup_sec": setup,
        "rows": counts,
        **results,
        "ratio_per_decade": ratio,
    }))
    shutil.rmtree(base_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
