"""Skew stress for the windowed / grouped operators (r10 verdict #4):
plant one mega-key holding ~50% of sf0.1-sized rows and measure

- sessionize          — irreducible single-key window (documented; the
                        number here is the honest envelope),
- top_per_group       — unsalted vs salt_groups (exact two-stage rank),
- cap_per_group       — unsalted vs salt_groups,
- pack_sequences      — user-skewed shard_col vs the default hash shard
                        (the default is the mitigation).

Usage:  python tools/bench_skew.py [sf_dir] [--rows N] [--salt S]
Prints one JSON line with per-operator wall seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import spark_session  # noqa: E402


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--salt", type=int, default=32)
    ap.add_argument("--n", type=int, default=100, help="top/cap n")
    ap.add_argument(
        "--mult", type=int, default=1,
        help="explode each source row into MULT distinct rows — sf0.1 "
        "events are only 100k rows, far below where a hot window "
        "partition hurts; --mult 50 puts ~2.5M rows on the mega-key",
    )
    ap.add_argument(
        "--ops", default=None,
        help="comma-separated subset of result keys to measure",
    )
    args = ap.parse_args()
    only = set(args.ops.split(",")) if args.ops else None

    def want(name: str) -> bool:
        return only is None or name in only

    from pyspark.sql import functions as F

    from seqspark.data import load_table
    from seqspark.pipeline.sampling import (
        cap_per_group,
        pack_sequences,
        top_per_group,
    )
    from seqspark.pipeline.sessions import sessionize, sessionize_scalable

    spark = spark_session(conf={"spark.driver.memory": "16g"})

    ev = load_table(spark, args.sf_dir, "events")
    if args.mult > 1:
        ev = (
            ev.withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(args.mult - 1))))
            .withColumn("event_id", F.col("event_id") * args.mult + F.col("__i"))
            .drop("__i")
        )
    # mega-key: half the rows collapse onto ONE actor, the rest spread
    # over ~10k actors — the 50%-hot-key shape the verdict asked for
    skewed = ev.withColumn(
        "actor",
        F.when(F.col("event_id") % 2 == 0, F.lit("megabot")).otherwise(
            F.concat(F.lit("u"), (F.col("event_id") % 10000).cast("string"))
        ),
    ).select("event_id", "actor", "ts", "value").localCheckpoint()
    n_rows = skewed.count()

    res = {"rows": n_rows, "salt": args.salt, "n": args.n}

    if want("sessionize_skewed"):
        res["sessionize_skewed"] = timed(
            lambda: sessionize(skewed, "actor").agg(
                F.max("session_seq")).collect()
        )
    if want("sessionize_scalable"):
        # the EXACT two-phase variant: per-(actor, bucket) windows +
        # summary stitch — same output, bounded partitions. Bucket the
        # replicated ts range into ~64 slices so the hot actor shards.
        lo, hi = skewed.agg(
            F.unix_millis(F.min("ts")), F.unix_millis(F.max("ts"))
        ).head()
        bucket = max(1, (hi - lo) // 64)
        res["sessionize_scalable"] = timed(
            lambda: sessionize_scalable(
                skewed, "actor", bucket_ms=bucket
            ).agg(F.max("session_seq")).collect()
        )
    # the upstream mitigation recommended in the sessionize docstring:
    # cap the hot actor first, then sessionize
    if want("sessionize_after_cap"):
        res["sessionize_after_cap"] = timed(
            lambda: sessionize(
                cap_per_group(skewed, "event_id", "actor", 20000,
                              salt_groups=args.salt),
                "actor",
            ).agg(F.max("session_seq")).collect()
        )

    if want("top_per_group_unsalted"):
        res["top_per_group_unsalted"] = timed(
            lambda: top_per_group(
                skewed, "actor", "value", args.n, key_col="event_id"
            ).count()
        )
    if want("top_per_group_salted"):
        res["top_per_group_salted"] = timed(
            lambda: top_per_group(
                skewed, "actor", "value", args.n, key_col="event_id",
                salt_groups=args.salt,
            ).count()
        )
    if want("cap_per_group_unsalted"):
        res["cap_per_group_unsalted"] = timed(
            lambda: cap_per_group(skewed, "event_id", "actor", args.n).count()
        )
    if want("cap_per_group_salted"):
        res["cap_per_group_salted"] = timed(
            lambda: cap_per_group(
                skewed, "event_id", "actor", args.n, salt_groups=args.salt
            ).count()
        )
    if want("cap_per_group_hotkeys") or want("sessionize_scalable_hotkeys"):
        # r12 amortized path: the hot set computed ONCE (and cached) and
        # shared across skew-aware operators — here it pays the detection
        # count once instead of per call
        from seqspark.pipeline.sampling import hot_group_keys

        hot = hot_group_keys(skewed, "actor", args.n * args.salt).cache()
        res["hot_group_keys_once"] = timed(hot.count)
    if want("cap_per_group_hotkeys"):
        res["cap_per_group_hotkeys"] = timed(
            lambda: cap_per_group(
                skewed, "event_id", "actor", args.n,
                salt_groups=args.salt, hot_keys=hot,
            ).count()
        )
    if want("sessionize_scalable_hotkeys"):
        lo, hi = skewed.agg(
            F.unix_millis(F.min("ts")), F.unix_millis(F.max("ts"))
        ).head()
        bucket = max(1, (hi - lo) // 64)
        res["sessionize_scalable_hotkeys"] = timed(
            lambda: sessionize_scalable(
                skewed, "actor", bucket_ms=bucket, hot_actors=hot
            ).agg(F.max("session_seq")).collect()
        )

    toks = skewed.withColumn("n_toks", (F.col("event_id") % 700) + 1)
    # user-skewed shard column (the anti-pattern): half the corpus in one
    # pack shard vs the DEFAULT deterministic hash shard
    if want("pack_sequences_skewed_shard"):
        res["pack_sequences_skewed_shard"] = timed(
            lambda: pack_sequences(
                toks, "event_id", "n_toks", 4096,
                shard_col=F.when(F.col("actor") == "megabot", F.lit(0)).otherwise(
                    F.pmod(F.xxhash64("event_id"), F.lit(1024))),
            ).agg(F.max("last_seq")).collect()
        )
    if want("pack_sequences_hash_shard"):
        res["pack_sequences_hash_shard"] = timed(
            lambda: pack_sequences(toks, "event_id", "n_toks", 4096,
                                   shards=1024).agg(F.max("last_seq")).collect()
        )

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
