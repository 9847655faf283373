#!/usr/bin/env python3
"""Inverted-index analyzer — the `cmd/index_analyzer` analog.

The reference tool walks sealed ``.index`` files and prints CSV reports:
per-fraction token/doc counts with cumulative + cumulative-unique columns,
and a power-of-2 histogram of posting-list lengths ("LIDs Histogram",
`cmd/index_analyzer/README.md`). Our fractions are the index's time
buckets and the posting lists are ``(field, token)`` row groups, so every
section is one Spark aggregation over the index parquet:

- *Uniq Tokens Stats*: per bucket — docs, posting entries, distinct
  tokens, token bytes; cumulative sums; and cumulative-UNIQUE token
  counts computed scalably as "sum of first occurrences" (min-bucket per
  token + a running sum) instead of an O(n²) re-distinct per row.
- *LIDs Histogram*: posting-list length (docs per (field, token) in the
  bucket) bucketed by power of two — the dictionary-skew report that
  tells you which fields need hot-token routing.
- *Uniq LIDs Stats*: posting entries vs distinct docs per bucket.

A ``StoreIndex`` directory is read through its newest manifest version
(exactly the files it lists; the directory can also hold staged and
superseded files); a plain partitioned index without ``_manifest/`` is
read whole.

Usage:  python tools/index_report.py <index_path> [--json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import spark_session  # noqa: E402


def report(spark, index_path: str) -> dict:
    """All three sections as plain dicts (printable or JSON)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from seqspark.store import _HadoopFS, _Log

    m = _Log(_HadoopFS(spark, index_path), None).current()
    idx = (m.frame(spark, index_path, sorted(m.buckets)) if m.version >= 0
           else spark.read.parquet(index_path))
    bucket_col = "ts_bucket" if "ts_bucket" in idx.columns else None
    if bucket_col is None:
        idx = idx.withColumn("ts_bucket", F.lit("all"))
    id_cols = [c for c in idx.columns
               if c not in ("field", "token", "ts_bucket")]
    doc = F.concat_ws("\x00", *[F.col(c).cast("string") for c in id_cols])

    # ---- per-bucket posting-list lengths (docs per (field, token))
    plists = idx.groupBy("ts_bucket", "field", "token").agg(
        F.count(F.lit(1)).alias("lids"),
    )

    # ---- section 1: per-bucket stats + cumulative + cumulative-unique
    per_bucket = (
        idx.groupBy("ts_bucket")
        .agg(
            F.countDistinct(doc).alias("docs"),
            F.count(F.lit(1)).alias("lids"),
            F.countDistinct("field").alias("fields"),
            F.countDistinct("field", "token").alias("tokens"),
            F.sum(F.octet_length("token")).alias("token_size"),
        )
    )
    # cumulative-unique tokens: a token counts in the FIRST bucket it
    # appears in; the running sum of first-occurrences over bucket order
    # equals |distinct tokens in buckets 1..i| without re-distincting
    firsts = (
        idx.groupBy("field", "token")
        .agg(F.min("ts_bucket").alias("ts_bucket"),
             F.max(F.octet_length("token")).alias("tok_bytes"))
        .groupBy("ts_bucket")
        .agg(F.count(F.lit(1)).alias("new_tokens"),
             F.sum("tok_bytes").alias("new_token_size"))
    )
    w = Window.orderBy("ts_bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stats = (
        per_bucket.join(firsts, "ts_bucket", "left")
        .fillna(0, ["new_tokens", "new_token_size"])
        .withColumn("docs_sum", F.sum("docs").over(w))
        .withColumn("tokens_sum", F.sum("tokens").over(w))
        .withColumn("uniq_tokens_sum", F.sum("new_tokens").over(w))
        .withColumn("token_size_sum", F.sum("token_size").over(w))
        .withColumn("uniq_token_size_sum", F.sum("new_token_size").over(w))
        .orderBy("ts_bucket")
    )
    rows = [r.asDict() for r in stats.collect()]

    # ---- section 2: LIDs histogram (power-of-2 posting-length buckets)
    hist_rows = (
        plists.withColumn(
            "bucket", F.pow(F.lit(2.0), F.ceil(F.log2("lids"))).cast("long")
        )
        .groupBy("ts_bucket", "bucket")
        .count()
        .orderBy("ts_bucket", "bucket")
        .collect()
    )
    hist: dict = {}
    for r in hist_rows:
        hist.setdefault(r["ts_bucket"], {})[int(r["bucket"])] = r["count"]

    return {
        "buckets": rows,
        "lids_histogram": hist,
    }


def _print_csv(rep: dict) -> None:
    cols = ["ts_bucket", "docs", "docs_sum", "fields", "tokens",
            "tokens_sum", "uniq_tokens_sum", "token_size",
            "token_size_sum", "uniq_token_size_sum", "lids"]
    print("Uniq Tokens Stats")
    print(",".join(["N"] + cols))
    for i, r in enumerate(rep["buckets"], 1):
        print(",".join([str(i)] + [str(r.get(c, "")) for c in cols]))
    print("\nLIDs Histogram")
    sizes = sorted({b for h in rep["lids_histogram"].values() for b in h})
    print(",".join(["N"] + [str(s) for s in sizes]))
    for i, (_, h) in enumerate(sorted(rep["lids_histogram"].items()), 1):
        print(",".join([str(i)] + [str(h.get(s, 0)) for s in sizes]))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("index_path")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()
    spark = spark_session()
    rep = report(spark, args.index_path)
    if args.json:
        print(json.dumps(rep))
    else:
        _print_csv(rep)
    return 0


if __name__ == "__main__":
    sys.exit(main())
