"""Benchmark harness: the reference's six k6 query shapes
(`/root/reference/benchmarks/k6/*.js`, see BASELINE.md) translated onto the
driver's synthetic tables, plus the scan-heavy pricing summary.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec = sum of per-query medians>,
   "unit": "sec", "queries": {"q1": median sec, ...},
   "queries_min": {"q1": min sec, ...}, "runs_per_query": N, "sf": <sf>,
   "plan_digests": {"q1": <sha256[:16] of the canonicalized plan>, ...},
   "plan_mismatches": [names whose digest drifted from bench_plans.json],
   "plan_unpinned": [names with no committed expectation — run --write-plans]}

Each query runs N times (default 5) and reports the MEDIAN (headline) and
MIN (plan floor) so a plan regression is distinguishable from transient
machine load — the r3 bench was taken under concurrent load and q5/q6
looked 2× worse than their steady state (see BASELINE.md).

Plan-digest pinning (round 10): timings vary ±2x with machine load, plans
do not. Each query's formatted physical plan is canonicalized (expression
ids `#123`, file paths, and all digit runs masked, so the digest pins the
OPERATOR SHAPE — scan/filter/exchange/join structure and pushed-filter
fields — not literals or partition counts) and sha256-hashed against the
committed `bench_plans.json`. A slow bench with `plan_mismatches: []` is
machine load; any non-empty list is a real plan regression to diagnose.
Regenerate expectations after an INTENDED plan change with:
  python bench.py --write-plans

The harness every ``tools/`` script shares lives here too: the session
(:func:`spark_session`), the CPU timer (:func:`proc_cpu_seconds`) and the
capture of the frames an aggregate executed (:func:`collected_frames`).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from seqspark import AggQuery, SearchTable
from seqspark.data import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "9")))
PLANS_PATH = os.path.join(ROOT, "bench_plans.json")

EVENTS_MAPPING = {
    "event_type": "keyword",
    "user_id": "keyword",
    "value": "keyword",
    "event_id": "keyword",
    "props": "text",
}


def session_conf(cpus: int, conf: dict | None = None) -> dict:
    """The settings of :func:`spark_session`, ``conf`` last. Spark's
    Python workers import ``seqspark`` from their own environment, not
    from the driver's ``sys.path``, so the repo root goes on their
    ``PYTHONPATH``: a script started from any directory runs its UDFs."""
    return {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.executorEnv.PYTHONPATH": ROOT,
        **(conf or {}),
    }


def spark_session(cpus: int = CPUS, conf: dict | None = None) -> SparkSession:
    """The one session bench.py and every ``tools/`` script run on:
    ``local[cpus]`` with as many shuffle partitions, AQE on, no UI, UTC,
    ERROR logging, and PySpark's call-site capture off (r17: PySpark 4
    wraps every DataFrame API call with a Python stack walk and an extra
    py4j round trip for error decoration; measured A/B, that doubled the
    driver CPU of query construction, and production sessions in
    seqspark/__main__.py turn it off too). ``conf`` adds settings, e.g.
    ``spark.driver.memory``; static ones take effect only in a process
    whose session this call creates."""
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(
        "seqspark-bench")
    for key, value in session_conf(cpus, conf).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def proc_cpu_seconds() -> float:
    """CPU seconds burned so far by this Python process PLUS its child
    JVM (local-mode executors live inside that one java child) — read
    from /proc, no dependencies. Wall time swings ±2x with host load
    while plans are byte-identical (the r15 bench recorded +37% wall
    with zero plan drift); CPU time moves far less under contention, so
    reporting both lets a reader separate host noise from a real
    regression. Falls back to Python-only CPU when /proc is absent."""
    cpu = time.process_time()
    try:
        clk = os.sysconf("SC_CLK_TCK")
        me = os.getpid()
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
                comm = head.split("(", 1)[1]
                fields = rest.split()
            except (OSError, IndexError, ValueError):
                continue
            if int(fields[1]) == me and "java" in comm:
                cpu += (int(fields[11]) + int(fields[12])) / clk
    except (OSError, ValueError):
        pass
    return cpu


def _plan_str(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _canon(plan: str) -> str:
    # expression ids churn per session; paths churn per tmpdir; digit runs
    # cover shuffle-partition counts, literals, and statistics so the digest
    # pins plan SHAPE (operators + pushed-filter fields), not constants
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"file:[^\s,\]\)]+", "<path>", plan)
    plan = re.sub(r"/[^\s,\]\)]*parquet[^\s,\]\)]*", "<path>", plan)
    plan = re.sub(r"\d+", "N", plan)
    return plan


def collected_frames(build) -> list:
    """Run ``build()`` and return every DataFrame it collected, in order.
    An aggregate answers with a LocalRelation of its buckets, which hides
    the plan that ran: the frames it collected are that plan."""
    from pyspark.sql.classic.dataframe import DataFrame

    frames = []
    collect = DataFrame.collect

    def spy(df):
        frames.append(df)
        return collect(df)

    DataFrame.collect = spy
    try:
        build()
    finally:
        DataFrame.collect = collect
    return frames


def plan_digest(dfs) -> str:
    txt = "\n---\n".join(_plan_str(df) for df in dfs)
    return hashlib.sha256(_canon(txt).encode()).hexdigest()[:16]


def main() -> None:
    write_plans = "--write-plans" in sys.argv
    spark = spark_session(conf={"spark.driver.memory": "16g"})

    events = load_table(spark, SF_DIR, "events")
    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "ts", F.timestamp_millis(F.col("doc_id") * 1000)
    )
    lineitem = load_table(spark, SF_DIR, "lineitem")
    # assume_folded: the synthetic keyword values are lower-case on disk, as
    # the reference's index guarantees — equality pushes into the parquet scan
    st = SearchTable.from_typed(
        events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id", assume_folded=True
    )
    DOCS_MAPPING = {
        "text": "text", "lang": "keyword", "source": "keyword", "doc_id": "keyword",
    }

    # tokens at rest: tokenize ONCE at ingest and persist, like the
    # reference's seal-time posting lists (`frac/sealed_index.go:218-266`) —
    # queries then never re-tokenize the corpus. Timed separately as
    # setup_sec (the reference pays this in its ingest path too).
    import shutil as _shutil
    import tempfile

    from seqspark.engine import materialize_tokens

    tok_dir = tempfile.mkdtemp(prefix="seqspark-bench-") + "/docs_at_rest"
    t0 = time.perf_counter()
    materialize_tokens(docs, DOCS_MAPPING).write.parquet(tok_dir)
    setup_sec = round(time.perf_counter() - t0, 4)
    docs_at_rest = spark.read.parquet(tok_dir)
    sd = SearchTable.from_typed(
        docs_at_rest, DOCS_MAPPING, ts_col="ts", rid_col="doc_id", assume_folded=True
    )

    # warm the JVM + file listing + the agg path; the reference's k6
    # harness also measures steady state over repeated iterations, not
    # cold starts
    events.count()
    docs_at_rest.count()
    lineitem.count()
    st.aggregate(AggQuery(func="max", field="value", group_by="event_type")).collect()

    # each query is a builder returning the DataFrame list it drains; the
    # timed run rebuilds + collects (planning cost is part of the number,
    # as before), the digest is computed ONCE from the same builder
    def b1():
        # match-all paging, ORDER_ASC, 3 pages of 100 (seq-db-paging.js)
        return [
            st.search("*", size=100, offset=page * 100, order="asc")
            for page in range(3)
        ]

    def b2():
        # keyword OR + fetch (seq-db-fetch-5k-fulltext.js)
        return [
            st.search(
                "event_type:click or event_type:signup or event_type:error",
                size=5000,
            )
        ]

    def b3():
        # full-text phrase = token-AND fetch (seq-db-fetch-5k-fulltext-2.js);
        # run on the text-mapped documents table
        return [sd.search('text:"table scan row"', size=5000)]

    def b4():
        # numeric range, bounded + open (seq-db-fetch-5k-range.js / -5k.js)
        return [
            st.search("value:[50, 100)", size=5000),
            st.search("value:[50, *]", size=5000),
        ]

    def b5():
        # aggregation COUNT by keyword field, size=0 (seq-db-aggs.js)
        return [st.aggregate(AggQuery(func="count", field="event_type"))]

    def b6():
        # aggregation MIN group-by (seq-db-aggs-min-by-status.js)
        return [
            st.aggregate(AggQuery(func="min", field="value", group_by="event_type"))
        ]

    def b7():
        # scan-heavy pricing summary (TPC-H Q1 shape) on lineitem
        return [
            lineitem.filter(
                F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02"))
            )
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum("l_extendedprice").alias("sum_base_price"),
                F.avg("l_discount").alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        ]

    builders = [
        ("q1", b1), ("q2", b2), ("q3", b3), ("q4", b4),
        ("q5", b5), ("q6", b6), ("q7", b7),
    ]
    # an aggregate's digest pins the plans it executed behind its
    # LocalRelation result, every one of them
    digest_builders = {"q5": lambda: collected_frames(b5),
                       "q6": lambda: collected_frames(b6)}

    digests = {
        name: plan_digest(digest_builders.get(name, b)())
        for name, b in builders
    }
    expected = {}
    if os.path.exists(PLANS_PATH):
        with open(PLANS_PATH) as f:
            expected = json.load(f)
    mismatches = sorted(
        name for name, d in digests.items() if expected.get(name) not in (None, d)
    )
    # an ABSENT expectation is not a match: fold it into its own list so
    # "plan_mismatches: []" can never mean "nothing was pinned" — a
    # missing/stale bench_plans.json would otherwise read as all-green
    unpinned = sorted(name for name in digests if name not in expected)

    timings = {}
    timings_min = {}
    timings_cpu = {}
    for name, b in builders:
        runs = []
        cpu_runs = []
        for _ in range(RUNS):
            c0 = proc_cpu_seconds()
            t0 = time.perf_counter()
            for df in b():
                df.collect()
            runs.append(time.perf_counter() - t0)
            cpu_runs.append(proc_cpu_seconds() - c0)
        timings[name] = round(statistics.median(runs), 4)
        timings_min[name] = round(min(runs), 4)
        timings_cpu[name] = round(statistics.median(cpu_runs), 4)

    total = round(sum(timings.values()), 4)
    total_cpu = round(sum(timings_cpu.values()), 4)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "seqspark_q1_q7_total",
                # v3: + CPU-time medians (host-noise separation, r16)
                "bench_schema": 3,
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_min": timings_min,
                # CPU seconds (python + child JVM) per query, median —
                # compare THIS across rounds before believing a wall-time
                # regression with empty plan_mismatches
                "queries_cpu": timings_cpu,
                "cpu_value": total_cpu,
                "runs_per_query": RUNS,
                "setup_sec": setup_sec,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "plan_digests": digests,
                "plan_mismatches": mismatches,
                "plan_unpinned": unpinned,
            }
        )
    )
    if write_plans:
        with open(PLANS_PATH, "w") as f:
            json.dump(digests, f, indent=2, sort_keys=True)
            f.write("\n")
    _shutil.rmtree(tok_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
