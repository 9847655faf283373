"""Wide-document routing crossover (r15, verdict #3).

The r14 crossover study (`tools/bench_scale.py`, BASELINE.md §r14) showed
the tokens-at-rest column scan beating posting-list routing at every
decade on NARROW props tokens, leaving one unmeasured claim: corpora
where the scanned side is wide (multi-KB log bodies) and the query is a
rare token — "the posting side's cost is independent of doc width".

This bench builds a ~3.2 KB/doc corpus through the REAL store layout
(:class:`seqspark.store.DocStore`: ts-clustered row groups, doc_id bloom
filters) with tokens at rest from the engine tokenizer, a materialized
inverted index, and measures the same ~0.1%-selective rare-token query
three ways at ×1 / ×``factor``:

  A. scan      — `array_contains` over the wide tokens-at-rest column
                 (every row group's token pages decompressed)
  B. routed    — `attach_index` in-plan broadcast semi-join (r14 shape)
  C. two-phase — `SearchTable.two_phase_search` (r15, the productized
                 operator): posting-only id page → bloomed pushed-In
                 fetch, the reference's actual search→fetch RPC pair
                 (`storeapi/grpc_fetch.go:42-216`), where non-matching
                 row groups are never read

Rows are asserted identical across all three before timing. The
`scan_rows` columns are the scan-leaf numOutputRows — the I/O-volume
evidence (at 100 TB rows-not-read are bytes-not-fetched).

Usage: python tools/bench_text_wide.py [--factor 10] [--runs 3]
       [--keep-dir DIR] [--docs 20000] [--width-reps 16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import spark_session  # noqa: E402

#: fixed base sentence: the narrow-fixture vocabulary, so tokenization
#: is boring and the WIDTH (not token exotica) is the variable
BASE = ("batch part spark line column order small sort fast value scan "
        "slow hash group agg filter query big key window shuffle join "
        "merge read write page block index store fetch")


def scan_rows(q) -> int:
    """numOutputRows summed over the scan leaves after executing q."""
    q.collect()
    total = 0
    stack = [q._jdf.queryExecution().executedPlan()]
    while stack:
        n = stack.pop()
        if n.children().isEmpty():
            m = n.metrics()
            if m.contains("numOutputRows"):
                total += int(m.apply("numOutputRows").value())
        it = n.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return total


def timed(fn, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 4)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--docs", type=int, default=20_000,
                    help="×1 corpus size")
    ap.add_argument("--width-reps", type=int, default=16,
                    help="BASE sentence repetitions per body (~3.2 KB)")
    ap.add_argument("--keep-dir", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    # r16: the In-threshold conf is deliberately NOT set here —
    # two_phase_search owns it (raises the session threshold to cover its
    # own id page, verdict r15 #1); this bench doubles as the
    # self-sufficiency proof at scale
    spark = spark_session(conf={"spark.driver.memory": "16g"})

    from seqspark import SearchTable
    from seqspark.engine import materialize_tokens
    from seqspark.index import (
        build_inverted_index, collect_index_stats, matching_ids_multi)
    from seqspark.store import DocStore

    base_dir = args.keep_dir or tempfile.mkdtemp(prefix="seqspark-wide-")
    os.makedirs(base_dir, exist_ok=True)
    mapping = {"body": "text", "doc_id": "keyword"}
    QUERY = "body:m503"
    CLUSTERED_QUERY = "body:hotzone"

    def build(n_docs: int, store_path: str, idx_path: str):
        if not os.path.exists(store_path):
            # marker m### is UNIFORM over time buckets (bloom worst
            # case); marker "hotzone" sits on a CONTIGUOUS id range =
            # contiguous seconds = 1-2 ts buckets (the reference's
            # MID-ordered reality, bloom/row-group-skip best case)
            hot_lo = n_docs // 2
            hot_hi = hot_lo + max(1, n_docs // 1000)
            body = F.concat(
                F.expr(f"repeat('{BASE} ', {args.width_reps})"),
                F.lit("m"),
                F.lpad((F.col("id") % 1000).cast("string"), 3, "0"),
                F.when(
                    (F.col("id") >= hot_lo) & (F.col("id") < hot_hi),
                    F.lit(" hotzone"),
                ).otherwise(F.lit("")),
            )
            docs = spark.range(n_docs).select(
                F.concat(F.lit("d"), F.col("id").cast("string"))
                .alias("doc_id"),
                (F.lit("2024-01-01 00:00:00").cast("timestamp")
                 + F.make_interval(secs=(F.col("id") % (48 * 3600))
                                   .cast("double"))).alias("ts"),
                body.alias("body"),
            )
            tok = materialize_tokens(docs, {"body": "text"})
            DocStore(spark, store_path, bloom_cols=("doc_id",)).append(tok)
        store = DocStore(spark, store_path, bloom_cols=("doc_id",))
        # (mid, rid) posting ids — the engine's real id order; r16's
        # two_phase_search strictness refuses anything else. The corpus
        # frame carries the same mid so the in-plan semi-join (leg B)
        # can meet on the full id.
        df = store.read().withColumn("mid", F.unix_millis(F.col("ts")))
        if not os.path.exists(idx_path):
            build_inverted_index(
                df, {"body": "__tok_body"}, id_cols=["mid", "doc_id"]
            ).write.parquet(idx_path)
        idx = spark.read.parquet(idx_path)
        return df, idx

    out = {"metric": "seqspark_text_wide", "factor": args.factor,
           "runs": args.runs, "docs_x1": args.docs,
           "body_bytes": (len(BASE) + 1) * args.width_reps + 4,
           "query": QUERY, "scales": {}}

    for scale, n_docs in (("x1", args.docs),
                          (f"x{args.factor}", args.docs * args.factor)):
        df, idx = build(
            n_docs,
            os.path.join(base_dir, f"store_{scale}"),
            os.path.join(base_dir, f"index_{scale}"),
        )
        stats = collect_index_stats(idx, total_docs=n_docs)
        st_scan = SearchTable.from_typed(
            df, mapping, ts_col="ts", rid_col="doc_id", assume_folded=True)
        st_routed = SearchTable.from_typed(
            df, mapping, ts_col="ts", rid_col="doc_id", assume_folded=True,
        ).attach_index(idx, ["body"], ["mid", "doc_id"], stats=stats,
                       max_selectivity=0.1)

        # identity: all three shapes return the same doc set
        a_ids = {r.doc_id for r in
                 st_scan.search(QUERY, size=1000).select("doc_id").collect()}
        b_ids = {r.doc_id for r in
                 st_routed.search(QUERY, size=1000).select("doc_id")
                 .collect()}
        page = [r.doc_id for r in
                matching_ids_multi(idx, [("body", "m503")],
                                   ["mid", "doc_id"])
                .limit(1000).collect()]
        # C is the productized operator (engine.two_phase_search) —
        # posting-only id page, then the bloomed pushed-In fetch
        c_ids = {r.doc_id for r in
                 st_routed.two_phase_search(QUERY, size=1000, order="asc")
                 .select("doc_id").collect()}
        n_hits = n_docs // 1000
        capped = min(n_hits, 1000)
        assert len(a_ids) == len(b_ids) == capped, (len(a_ids), len(b_ids))
        assert c_ids <= {f"d{i}" for i in range(503, n_docs, 1000)}, "c ids"
        assert len(c_ids) == capped

        rec = {
            "n_docs": n_docs,
            "n_matches": n_hits,
            "scan_s": timed(
                lambda: st_scan.search(QUERY, size=1000).collect(),
                args.runs),
            "routed_s": timed(
                lambda: st_routed.search(QUERY, size=1000).collect(),
                args.runs),
            "two_phase_s": timed(
                lambda: st_routed.two_phase_search(
                    QUERY, size=1000, order="asc").collect(),
                args.runs),
            # I/O-volume evidence: rows emitted by the scan leaves
            # clustered-page leg: same operator, the marker whose id
            # page is time-contiguous — the reference's MID-ordered case
            "two_phase_clustered_s": timed(
                lambda: st_routed.two_phase_search(
                    CLUSTERED_QUERY, size=1000, order="asc").collect(),
                args.runs),
            "scan_rows_scan": scan_rows(st_scan.search(QUERY, size=1000)),
            "scan_rows_fetch": scan_rows(
                st_scan.fetch_ids(page, "doc_id")),
            "scan_rows_fetch_clustered": scan_rows(
                st_scan.fetch_ids(
                    [r.doc_id for r in
                     matching_ids_multi(idx, [("body", "hotzone")],
                                        ["mid", "doc_id"])
                     .limit(1000).collect()],
                    "doc_id")),
        }
        rec["n_matches_clustered"] = st_scan.search(
            CLUSTERED_QUERY, size=1000).count()
        rec["two_phase_vs_scan"] = round(
            rec["two_phase_s"] / rec["scan_s"], 2) if rec["scan_s"] else None
        rec["routed_vs_scan"] = round(
            rec["routed_s"] / rec["scan_s"], 2) if rec["scan_s"] else None
        out["scales"][scale] = rec

    print(json.dumps(out))


if __name__ == "__main__":
    main()
