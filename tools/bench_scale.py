"""Scale-point benchmark: the bench.py query shapes at sf0.1 AND at a
10x replication of it (sf1-equivalent row counts), so "would the plan
survive 10x" is a measured number instead of plan inspection alone.

The scaled tables are materialized ONCE to parquet (replica-suffixed ids
keep uniqueness; timestamps keep the same range, so per-bucket density
grows 10x like a hotter tenant would). Queries then run against parquet at
both scales with identical code — any super-linear blowup is a plan
problem, not a data artifact.

Usage:
    python tools/bench_scale.py [--runs 3] [--factor 10] [--keep-dir DIR]
                                [--write-plans]

Prints one JSON line:
    {"metric": "seqspark_scale_check", "factor": 10,
     "queries_sf01": {...}, "queries_sf1": {...}, "ratio": {...},
     "plan_digests": {...}, "plan_mismatches": [...], "plan_unpinned": [...]}

Plan digests (bench.py's canonicalizer — expression ids / paths / digit
runs masked) are computed for every query AT BOTH SCALES and checked
against the committed ``bench_plans_scale.json``: a scale-point plan
regression (a pushdown lost at 10x, an exchange appearing) is then a
named mismatch, not a timing anomaly to argue about. After an INTENDED
plan change regenerate with ``--write-plans`` and commit the diff.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

import bench
from seqspark import AggQuery, SearchTable
from seqspark.data import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

EVENTS_MAPPING = {
    "event_type": "keyword",
    "user_id": "keyword",
    "value": "keyword",
    "event_id": "keyword",
    "props": "text",
}


def scale_out(df, factor: int, id_cols):
    """factor x rows: union of replicas with replica-suffixed ids (narrow —
    one generator column + concat, no shuffle before the write)."""
    rep = df.withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
    for c in id_cols:
        rep = rep.withColumn(
            c, F.concat(F.col(c).cast("string"), F.lit("#"), F.col("__r"))
        )
    return rep.drop("__r")


#: replica-writer row-group cap (r18): the scaled fixtures are a scale
#: MODEL of a 100 TB at-rest corpus (thousands of splittable row
#: groups), but a default 128 MB block size turns e.g. the ×100
#: lineitem replica into a near-single-row-group file per task — every
#: scan then runs a handful of tasks and the 8c-vs-32c curve measures
#: the task-count floor, not the plan (exactly the r17 single-row-group
#: fixture problem at sf0.1). 4 MiB row groups keep the split geometry
#: proportional to the modeled scale.
BLOCK_BYTES = 4 * 1024 * 1024


def write_ts_clustered(spark, df, path, parts: int):
    """Materialize with the DocStore's at-rest layout: ts-range partitioned
    files, each sorted by ts, INT64 TIMESTAMP_MICROS encoding (row-group
    stats + pushdown; the Spark default INT96 has neither). Both scales go
    through this writer so the q8 ratio measures the layout the store
    actually produces (`seqspark/store.py` append/compact)."""
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try:
        (
            df.repartitionByRange(parts, "ts")
            .sortWithinPartitions("ts")
            .write.option("parquet.block.size", str(BLOCK_BYTES))
            .parquet(path)
        )
    finally:
        spark.conf.set(key, old)


def timed(fn, runs: int):
    out = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return round(statistics.median(out), 4)


def query_set(st, lineitem, window=None):
    out = {}
    if window is not None:
        f, t = window
        out["q8_time_window"] = lambda: st.search(
            "event_type:click", from_ms=f, to_ms=t, size=5000
        ).collect()
    out.update({
        "q2_keyword_or": lambda: st.search(
            "event_type:click or event_type:signup or event_type:error", size=5000
        ).collect(),
        "q4_range": lambda: st.search("value:[50, 100)", size=5000).collect(),
        "q5_agg_count": lambda: st.aggregate(
            AggQuery(func="count", field="event_type")
        ).collect(),
        "q6_agg_min_group": lambda: st.aggregate(
            AggQuery(func="min", field="value", group_by="event_type")
        ).collect(),
        "q7_pricing": lambda: lineitem.filter(
            F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .collect(),
    })
    return out


def digest_set(st, lineitem, window):
    """Same query shapes as :func:`query_set`, as digest-frame builders
    (lists of DataFrames whose canonicalized physical plans get hashed).
    The agg queries digest every frame the aggregate collected
    (:func:`bench.collected_frames`), the plans it executed."""
    f, t = window

    def agg_plans(aggq):
        return bench.collected_frames(lambda: st.aggregate(aggq))

    return {
        "q8_time_window": lambda: [
            st.search("event_type:click", from_ms=f, to_ms=t, size=5000)
        ],
        "q2_keyword_or": lambda: [
            st.search(
                "event_type:click or event_type:signup or event_type:error",
                size=5000,
            )
        ],
        "q4_range": lambda: [st.search("value:[50, 100)", size=5000)],
        "q5_agg_count": lambda: agg_plans(
            AggQuery(func="count", field="event_type")
        ),
        "q6_agg_min_group": lambda: agg_plans(
            AggQuery(func="min", field="value", group_by="event_type")
        ),
        "q7_pricing": lambda: [
            lineitem.filter(
                F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
            )
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.avg("l_discount").alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        ],
    }


def pipeline_query_set(events_df, docs_df):
    """The heaviest pipeline shuffles (r12): the skew-aware operators'
    scale behavior, measured at both scales like the engine queries."""
    from seqspark.pipeline.dedup import duplicate_span_removal
    from seqspark.pipeline.sampling import cap_per_group, top_per_group
    from seqspark.pipeline.sessions import sessionize_scalable

    ev = events_df.select("user_id", "ts", "event_id", "value")
    return {
        "p1_sessionize_scalable": lambda: sessionize_scalable(
            ev, "user_id", gap_ms=3600_000, bucket_ms=6 * 3600_000
        ).count(),
        "p2_cap_salted": lambda: cap_per_group(
            ev, "event_id", "user_id", 50, seed="sc", salt_groups=8
        ).count(),
        "p3_top_salted": lambda: top_per_group(
            ev, "user_id", "value", 50, key_col="event_id", salt_groups=8
        ).count(),
        "p4_span_dedup": lambda: duplicate_span_removal(docs_df, k=8)
        .select("doc_id", "clean_text").count(),
    }


def pipeline_digest_set(events_df, docs_df):
    from seqspark.pipeline.dedup import duplicate_span_removal
    from seqspark.pipeline.sampling import cap_per_group, top_per_group
    from seqspark.pipeline.sessions import sessionize_scalable

    ev = events_df.select("user_id", "ts", "event_id", "value")
    return {
        "p1_sessionize_scalable": lambda: [
            sessionize_scalable(ev, "user_id", gap_ms=3600_000,
                                bucket_ms=6 * 3600_000)
        ],
        "p2_cap_salted": lambda: [
            cap_per_group(ev, "event_id", "user_id", 50, seed="sc",
                          salt_groups=8)
        ],
        "p3_top_salted": lambda: [
            top_per_group(ev, "user_id", "value", 50, key_col="event_id",
                          salt_groups=8)
        ],
        "p4_span_dedup": lambda: [
            duplicate_span_removal(docs_df, k=8).select(
                "doc_id", "clean_text")
        ],
    }


def ml_query_set(codes_df, docs_df, mj_assets, books, query, pieces,
                 rcodes_df, cents, rbooks, sqcodes_df, sqbounds):
    """r13 scale pins for the r12b/r13 ML operators (verdict #4): PQ ADC
    top-k over codes-at-rest, unigram-LM encode, video key-frames, and
    residual IVF-PQ (the union-of-pruned-branches plan). r14: SQ8 ADC
    over codes-at-rest and its IVF-pruned composition."""
    from seqspark.pipeline.multimodal import frame_dhashes, keyframes
    from seqspark.pipeline.ann import (
        ivf_pq_residual_topk, ivf_sq_topk, pq_topk, sq_topk)
    from seqspark.pipeline.unigram import unigram_encoded

    return {
        "p5_pq_topk": lambda: pq_topk(codes_df, books, query, k=10).count(),
        "p6_unigram_encode": lambda: unigram_encoded(
            docs_df.select("doc_id", "text"), pieces).count(),
        "p7_keyframes": lambda: keyframes(
            frame_dhashes(mj_assets, fake=False), k=3).count(),
        "p8_ivfpq_residual": lambda: ivf_pq_residual_topk(
            rcodes_df, cents, rbooks, query, k=10, nprobe=2).count(),
        "p11_sq_topk": lambda: sq_topk(
            sqcodes_df, sqbounds, query, k=10).count(),
        "p12_ivfsq_topk": lambda: ivf_sq_topk(
            sqcodes_df, cents, sqbounds, query, k=10, nprobe=2).count(),
    }


def ml_digest_set(codes_df, docs_df, mj_assets, books, query, pieces,
                  rcodes_df, cents, rbooks, sqcodes_df, sqbounds):
    from seqspark.pipeline.multimodal import frame_dhashes, keyframes
    from seqspark.pipeline.ann import (
        ivf_pq_residual_topk, ivf_sq_topk, pq_topk, sq_topk)
    from seqspark.pipeline.unigram import unigram_encoded

    return {
        "p5_pq_topk": lambda: [pq_topk(codes_df, books, query, k=10)],
        "p6_unigram_encode": lambda: [
            unigram_encoded(docs_df.select("doc_id", "text"), pieces)
        ],
        "p7_keyframes": lambda: [
            keyframes(frame_dhashes(mj_assets, fake=False), k=3)
        ],
        "p8_ivfpq_residual": lambda: [
            ivf_pq_residual_topk(rcodes_df, cents, rbooks, query,
                                 k=10, nprobe=2)
        ],
        "p11_sq_topk": lambda: [sq_topk(sqcodes_df, sqbounds, query, k=10)],
        "p12_ivfsq_topk": lambda: [
            ivf_sq_topk(sqcodes_df, cents, sqbounds, query, k=10, nprobe=2)
        ],
    }


def text_routing_query_set(st_routed, st_scan, query: str):
    """r14 (verdict #1): the inverted-index routing crossover — the SAME
    rare-token phrase query through the posting-list semi-join
    (attach_index + stats, the `frac/sealed_index.go:218-266` path) and
    through the tokens-at-rest column scan. Identical results by
    construction; the ratio vs corpus scale is the measurement the 100 TB
    text claim was missing (r3 measured routing LOSING at 5k docs,
    nothing since)."""
    return {
        "p9_text_routed": lambda: st_routed.search(query, size=1000).collect(),
        "p10_text_scan": lambda: st_scan.search(query, size=1000).collect(),
        # r15 (verdict #1): prefix WILDCARD through the routed path — the
        # prefix-dictionary bound (IndexStats.prefix_bound) must keep the
        # posting semi-join broadcast-hinted at every decade; token "81"
        # is ~0.9%-selective, under broadcast_max_docs at ×100 too
        "p9w_text_routed_wc": lambda: st_routed.search(
            WILDCARD_QUERY, size=1000).collect(),
        "p10w_text_scan_wc": lambda: st_scan.search(
            WILDCARD_QUERY, size=1000).collect(),
    }


def text_routing_digest_set(st_routed, st_scan, query: str):
    return {
        "p9_text_routed": lambda: [st_routed.search(query, size=1000)],
        "p10_text_scan": lambda: [st_scan.search(query, size=1000)],
        "p9w_text_routed_wc": lambda: [
            st_routed.search(WILDCARD_QUERY, size=1000)],
        "p10w_text_scan_wc": lambda: [
            st_scan.search(WILDCARD_QUERY, size=1000)],
    }


#: prefix wildcard over the props tokens: matches exactly token "81"
#: (values are 0-99, so no other token starts with "81") — rare enough
#: to route AND to broadcast, exercising the r15 prefix_bound hint
WILDCARD_QUERY = "props:81*"


PLANS_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "bench_plans_scale.json",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--keep-dir", default=None)
    ap.add_argument("--write-plans", action="store_true")
    args = ap.parse_args()

    # split sizing proportional to the scale MODEL (r18): the ×100
    # fixture is a few hundred MB standing in for 100 TB, so the default
    # 128 MB/4 MB split/open-cost geometry collapses its hundreds of files
    # and row groups into ~a dozen scan tasks — the core-count curve then
    # measures the task floor, not the plan. 16 MiB splits + 256 KiB open
    # cost keep scan task counts in the hundreds at ×100, the shape a real
    # at-rest corpus has with default confs. Same conf at every core
    # count, so 8c-vs-32c comparisons stay apples-to-apples. The plan pins
    # depend on the core count: they were written at the default 32.
    spark = bench.spark_session(bench.CPUS, conf={
        "spark.driver.memory": "16g",
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(256 * 1024),
    })

    base_dir = args.keep_dir or tempfile.mkdtemp(prefix="seqspark-scale-")
    # factor in the path: a kept dir from a different --factor must not be
    # silently reused and mislabeled
    ev_small_path = os.path.join(base_dir, "events_x1")
    ev1_path = os.path.join(base_dir, f"events_x{args.factor}")
    li1_path = os.path.join(base_dir, f"lineitem_x{args.factor}")

    events_raw = load_table(spark, SF_DIR, "events")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    docs_raw = load_table(spark, SF_DIR, "documents")
    docs_small_path = os.path.join(base_dir, "documents_x1")
    docs1_path = os.path.join(base_dir, f"documents_x{args.factor}")
    t0 = time.perf_counter()
    # events at BOTH scales go through the store's ts-clustered layout so
    # the time-window ratio is apples-to-apples
    if not os.path.exists(ev_small_path):
        write_ts_clustered(spark, events_raw, ev_small_path, 4)
    if not os.path.exists(ev1_path):
        write_ts_clustered(
            spark,
            scale_out(events_raw, args.factor, ["event_id"]),
            ev1_path,
            4 * args.factor,
        )
    if not os.path.exists(li1_path):
        # multi-row-group + repartition (r18): without both, the ×100
        # replica is ONE ~1 GB file written by the single upstream task,
        # and the pricing scan can never use more than a handful of
        # cores regardless of the plan
        (scale_out(lineitem, args.factor, [])
         .repartition(max(4, min(args.factor, 64)))
         .write.option("parquet.block.size", str(BLOCK_BYTES))
         .parquet(li1_path))
    # r15: splits must scale WITH the data like the events fixture's
    # write_ts_clustered(4 * factor) — the r14 fixture wrote the ×100
    # corpus into 2 splits, so p6's "46×" was parallelism collapse
    # (the whole encode serialized on 2 cores), not algorithm cost.
    # A 100 TB corpus arrives in thousands of splits; the fixture must.
    if not os.path.exists(docs_small_path):
        docs_raw.repartition(4).write.parquet(docs_small_path)
    if not os.path.exists(docs1_path):
        scale_out(docs_raw, args.factor, ["doc_id"]).repartition(
            4 * args.factor).write.parquet(docs1_path)
    setup = round(time.perf_counter() - t0, 2)

    events = spark.read.parquet(ev_small_path)
    events_x = spark.read.parquet(ev1_path)
    lineitem_x = spark.read.parquet(li1_path)
    docs = spark.read.parquet(docs_small_path)
    docs_x = spark.read.parquet(docs1_path)

    st = SearchTable.from_typed(
        events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id", assume_folded=True
    )
    st_x = SearchTable.from_typed(
        events_x, EVENTS_MAPPING, ts_col="ts", rid_col="event_id", assume_folded=True
    )

    # warm
    events.count(), events_x.count(), lineitem.count(), lineitem_x.count()

    # a ~5% central time window: with pushdown + row-group stats this query
    # should scale far below linearly (it reads the matching slice, not the
    # corpus)
    lo, hi = events.agg(
        F.unix_millis(F.min("ts")), F.unix_millis(F.max("ts"))
    ).head()
    window = (lo + (hi - lo) * 48 // 100, lo + (hi - lo) * 53 // 100)

    # r13: ML-operator scale fixtures — PQ codes-at-rest written per
    # scale (the realistic layout: encode once at ingest), MJPEG asset
    # count scaled, documents reuse docs/docs_x
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "entry", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    from seqspark.pipeline.ann import pq_encode
    from seqspark.pipeline.multimodal import make_real_mjpeg_assets

    books, query, pieces = (
        entry.PQ_CODEBOOKS, entry.PQ_QUERY, entry.UNIGRAM_PIECES)
    emb_raw = load_table(spark, SF_DIR, "embeddings")
    codes_small_path = os.path.join(base_dir, "pq_codes_x1")
    codes1_path = os.path.join(base_dir, f"pq_codes_x{args.factor}")
    if not os.path.exists(codes_small_path):
        pq_encode(emb_raw, books).write.parquet(codes_small_path)
    if not os.path.exists(codes1_path):
        emb_x = emb_raw.withColumn(
            "__r", F.explode(F.sequence(F.lit(0), F.lit(args.factor - 1)))
        ).withColumn(
            "vec_id", F.col("vec_id") + F.col("__r").cast("long") * 100_000_000
        ).drop("__r")
        pq_encode(emb_x, books).write.parquet(codes1_path)
    # residual IVF-PQ codes-at-rest (r13): cells + residual codes against
    # the frozen centroids, materialized per scale like the plain codes
    from seqspark.pipeline.ann import ivf_assign, pq_encode_residual

    cents, rbooks = entry.SEMDEDUP_CENTROIDS, entry.PQ_RESIDUAL_CODEBOOKS
    rcodes_small_path = os.path.join(base_dir, "ivfpq_res_x1")
    rcodes1_path = os.path.join(base_dir, f"ivfpq_res_x{args.factor}")
    if not os.path.exists(rcodes_small_path):
        pq_encode_residual(
            ivf_assign(emb_raw, cents).select("vec_id", "cell", "embedding"),
            cents, rbooks,
        ).write.parquet(rcodes_small_path)
    if not os.path.exists(rcodes1_path):
        emb_x = emb_raw.withColumn(
            "__r", F.explode(F.sequence(F.lit(0), F.lit(args.factor - 1)))
        ).withColumn(
            "vec_id", F.col("vec_id") + F.col("__r").cast("long") * 100_000_000
        ).drop("__r")
        pq_encode_residual(
            ivf_assign(emb_x, cents).select("vec_id", "cell", "embedding"),
            cents, rbooks,
        ).write.parquet(rcodes1_path)
    # r14: SQ8 codes-at-rest with IVF cells (the faiss IVF-SQ8 layout),
    # written per scale like the PQ codes — SQ_BOUNDS are the entry's
    # frozen literals
    from seqspark.pipeline.ann import sq_encode

    sqbounds = entry.SQ_BOUNDS
    sqcodes_small_path = os.path.join(base_dir, "sq_codes_x1")
    sqcodes1_path = os.path.join(base_dir, f"sq_codes_x{args.factor}")
    if not os.path.exists(sqcodes_small_path):
        sq_encode(ivf_assign(emb_raw, cents), sqbounds,
                  extra_cols=("cell",)).write.parquet(sqcodes_small_path)
    if not os.path.exists(sqcodes1_path):
        emb_x = emb_raw.withColumn(
            "__r", F.explode(F.sequence(F.lit(0), F.lit(args.factor - 1)))
        ).withColumn(
            "vec_id", F.col("vec_id") + F.col("__r").cast("long") * 100_000_000
        ).drop("__r")
        sq_encode(ivf_assign(emb_x, cents), sqbounds,
                  extra_cols=("cell",)).write.parquet(sqcodes1_path)
    sqcodes = spark.read.parquet(sqcodes_small_path)
    sqcodes_x = spark.read.parquet(sqcodes1_path)

    # r14: text-routing fixtures — events with TOKENS AT REST (the store's
    # actual ingest layout) plus a materialized inverted index per scale,
    # both through the ts-clustered writer. Separate parquet paths so the
    # q2-q8 scans (and their pinned digests) never see the extra column.
    from seqspark.engine import materialize_tokens
    from seqspark.index import (
        build_inverted_index, collect_index_stats, write_inverted_index)

    ev_tok_small_path = os.path.join(base_dir, "events_tok_x1")
    ev_tok1_path = os.path.join(base_dir, f"events_tok_x{args.factor}")
    idx_small_path = os.path.join(base_dir, "props_index_x1")
    idx1_path = os.path.join(base_dir, f"props_index_x{args.factor}")
    if not os.path.exists(ev_tok_small_path):
        write_ts_clustered(
            spark,
            materialize_tokens(events_raw, {"props": "text"}),
            ev_tok_small_path, 4,
        )
    if not os.path.exists(ev_tok1_path):
        write_ts_clustered(
            spark,
            materialize_tokens(
                scale_out(events_raw, args.factor, ["event_id"]),
                {"props": "text"},
            ),
            ev_tok1_path, 4 * args.factor,
        )
    events_tok = spark.read.parquet(ev_tok_small_path)
    events_tok_x = spark.read.parquet(ev_tok1_path)
    if not os.path.exists(idx_small_path):
        write_inverted_index(
            build_inverted_index(
                events_tok, {"props": "__tok_props"}, id_cols=["event_id"]),
            idx_small_path,
        )
    if not os.path.exists(idx1_path):
        write_inverted_index(
            build_inverted_index(
                events_tok_x, {"props": "__tok_props"},
                id_cols=["event_id"]),
            idx1_path,
        )
    idx_small = spark.read.parquet(idx_small_path)
    idx_x = spark.read.parquet(idx1_path)

    def _text_tables(ev_df, idx_df):
        n = ev_df.count()
        stats = collect_index_stats(idx_df, total_docs=n, top_k=4096)
        routed = SearchTable.from_typed(
            ev_df, EVENTS_MAPPING, ts_col="ts", rid_col="event_id",
            assume_folded=True,
        ).attach_index(idx_df, ["props"], ["event_id"], stats=stats,
                       max_selectivity=0.1)
        scan = SearchTable.from_typed(
            ev_df, EVENTS_MAPPING, ts_col="ts", rid_col="event_id",
            assume_folded=True,
        )
        return routed, scan

    st_routed, st_scan = _text_tables(events_tok, idx_small)
    st_routed_x, st_scan_x = _text_tables(events_tok_x, idx_x)
    # props is '{"k": N}': token "k" is a stop word (df 1.0, stays on the
    # scan side), the number is ~1%-selective and routes — the mixed
    # phrase the heuristic was built for
    TEXT_QUERY = 'props:"k 81"'

    rcodes = spark.read.parquet(rcodes_small_path)
    rcodes_x = spark.read.parquet(rcodes1_path)
    codes = spark.read.parquet(codes_small_path)
    codes_x = spark.read.parquet(codes1_path)
    mj = make_real_mjpeg_assets(spark, 16)
    mj_x = make_real_mjpeg_assets(spark, 16 * args.factor)

    small = {k: timed(fn, args.runs)
             for k, fn in query_set(st, lineitem, window).items()}
    big = {k: timed(fn, args.runs)
           for k, fn in query_set(st_x, lineitem_x, window).items()}
    small.update({k: timed(fn, args.runs)
                  for k, fn in pipeline_query_set(events, docs).items()})
    big.update({k: timed(fn, args.runs)
                for k, fn in pipeline_query_set(events_x, docs_x).items()})
    small.update({k: timed(fn, args.runs) for k, fn in ml_query_set(
        codes, docs, mj, books, query, pieces,
        rcodes, cents, rbooks, sqcodes, sqbounds).items()})
    big.update({k: timed(fn, args.runs) for k, fn in ml_query_set(
        codes_x, docs_x, mj_x, books, query, pieces,
        rcodes_x, cents, rbooks, sqcodes_x, sqbounds).items()})
    # routed-vs-scan rows must be identical before timing them
    for q in (TEXT_QUERY, WILDCARD_QUERY):
        routed_rows = st_routed.search(q, size=1000).count()
        scan_rows = st_scan.search(q, size=1000).count()
        assert routed_rows == scan_rows, (q, routed_rows, scan_rows)
    # r15: the wildcard semi-join must stay BROADCAST at the big scale —
    # the prefix-dictionary bound (~0.9% of docs) is under the cap at
    # ×100, so a shuffle here would be the exact regression the
    # stats-driven hint exists to prevent
    wc_plan = (st_routed_x.search(WILDCARD_QUERY, size=1000)
               ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in wc_plan, wc_plan[:2000]
    small.update({k: timed(fn, args.runs) for k, fn in
                  text_routing_query_set(st_routed, st_scan,
                                         TEXT_QUERY).items()})
    big.update({k: timed(fn, args.runs) for k, fn in
                text_routing_query_set(st_routed_x, st_scan_x,
                                       TEXT_QUERY).items()})
    ratio = {k: round(big[k] / small[k], 2) if small[k] else None for k in small}

    # plan digests at BOTH scales, pinned against bench_plans_scale.json
    digests = {}
    for scale, s_t, s_li in (("x1", st, lineitem), (f"x{args.factor}", st_x, lineitem_x)):
        for name, builder in digest_set(s_t, s_li, window).items():
            digests[f"{name}@{scale}"] = bench.plan_digest(builder())
    for scale, s_ev, s_docs in (("x1", events, docs),
                                (f"x{args.factor}", events_x, docs_x)):
        for name, builder in pipeline_digest_set(s_ev, s_docs).items():
            digests[f"{name}@{scale}"] = bench.plan_digest(builder())
    for scale, s_codes, s_docs, s_mj, s_rc, s_sq in (
        ("x1", codes, docs, mj, rcodes, sqcodes),
        (f"x{args.factor}", codes_x, docs_x, mj_x, rcodes_x, sqcodes_x),
    ):
        for name, builder in ml_digest_set(
            s_codes, s_docs, s_mj, books, query, pieces,
            s_rc, cents, rbooks, s_sq, sqbounds
        ).items():
            digests[f"{name}@{scale}"] = bench.plan_digest(builder())
    for scale, s_r, s_s in (("x1", st_routed, st_scan),
                            (f"x{args.factor}", st_routed_x, st_scan_x)):
        for name, builder in text_routing_digest_set(
            s_r, s_s, TEXT_QUERY
        ).items():
            digests[f"{name}@{scale}"] = bench.plan_digest(builder())
    expected = {}
    if os.path.exists(PLANS_PATH):
        with open(PLANS_PATH) as f:
            expected = json.load(f)
    mismatches = sorted(
        k for k, d in digests.items() if expected.get(k) not in (None, d)
    )
    unpinned = sorted(k for k in digests if k not in expected)

    print(
        json.dumps(
            {
                "metric": "seqspark_scale_check",
                "factor": args.factor,
                "runs": args.runs,
                "setup_sec": setup,
                "queries_sf01": small,
                "queries_sf1": big,
                "ratio": ratio,
                "plan_digests": digests,
                "plan_mismatches": mismatches,
                "plan_unpinned": unpinned,
            }
        )
    )
    if args.write_plans:
        # MERGE with the existing pins: runs at different --factor values
        # pin different @xN keys (x10 and x100 decade points coexist) —
        # a replace would silently drop the other factor's pins
        merged = dict(expected)
        merged.update(digests)
        with open(PLANS_PATH, "w") as f:
            json.dump(merged, f, indent=2, sort_keys=True)
            f.write("\n")
    if args.keep_dir is None:
        shutil.rmtree(base_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
