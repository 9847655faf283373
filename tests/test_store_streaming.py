"""DocStore + Structured Streaming + async search, mirroring the reference's
Active/Sealed/Restarted parity suite (`tests/suites/single.go:96-120`) and
rotation/retention (`fracmanager/fracmanager.go:106-148`)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from seqspark import Mapping, SearchTable
from seqspark.ingest import ingest_docs
from seqspark.store import DocStore
from seqspark.streaming import AsyncSearcher, stream_ingest

MAPPING = Mapping({"service": "keyword", "message": "text"})
BIG = 10**15

DOCS = [
    {"timestamp": f"2024-01-0{d} 0{h}:00:00.000", "service": s, "message": f"msg {s} {h}"}
    for d in (1, 2, 3)
    for h in range(3)
    for s in ("auth", "pay")
]


@pytest.fixture()
def tmp(tmp_path):
    return str(tmp_path)


def write_ndjson(path, docs):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for d in docs:
            f.write(json.dumps(d) + "\n")


def streamed_store(spark, tmp):
    indir = os.path.join(tmp, "in")
    write_ndjson(os.path.join(indir, "docs.ndjson"), DOCS)
    store = DocStore(spark, os.path.join(tmp, "store"))
    q = stream_ingest(
        spark, indir, store, MAPPING, os.path.join(tmp, "ckpt"),
        allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    q.awaitTermination(120)
    return store


def test_stream_equals_batch(spark, tmp):
    store = streamed_store(spark, tmp)
    streamed = SearchTable.from_docs(store.read(), MAPPING)
    batch_frame = ingest_docs(
        spark.createDataFrame([(json.dumps(d),) for d in DOCS], "raw string"),
        MAPPING,
        allowed_drift_ms=BIG,
        future_drift_ms=BIG,
    )
    batch = SearchTable.from_docs(batch_frame, MAPPING)
    for q in ("service:auth", "message:pay", "*", "service:auth and message:msg"):
        assert streamed.search(q).count() == batch.search(q).count(), q


def test_checkpoint_replay_no_duplicates(spark, tmp):
    store = streamed_store(spark, tmp)
    n1 = store.read().count()
    # restart the stream with the same checkpoint — nothing new to ingest
    q2 = stream_ingest(
        spark, os.path.join(tmp, "in"), store, MAPPING, os.path.join(tmp, "ckpt"),
        allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    q2.awaitTermination(120)
    assert store.read().count() == n1


def test_partitioned_layout_and_time_pruning(spark, tmp):
    store = streamed_store(spark, tmp)
    assert len(store.partitions()) == 9  # 3 days x 3 hours
    st = SearchTable.from_docs(store.read(), MAPPING)
    # 2024-01-02 window only
    n = st.search("service:auth", from_ms=1704153600000, to_ms=1704239999999).count()
    assert n == 3


def test_time_range_prunes_store_partitions(spark, tmp):
    """store.search_table wires bucket_fmt so a from/to window filters the
    ts_bucket PARTITION column — whole bucket directories are pruned
    (PartitionFilters in the scan), with results identical to the
    unpruned table."""
    store = streamed_store(spark, tmp)
    pruned = store.search_table(MAPPING)
    plain = SearchTable.from_docs(store.read(), MAPPING)
    F_, T_ = 1704153600000, 1704239999999  # 2024-01-02 only
    a = pruned.search("service:auth", from_ms=F_, to_ms=T_)
    assert a.count() == plain.search("service:auth", from_ms=F_, to_ms=T_).count() == 3
    plan = a._jdf.queryExecution().executedPlan().toString()
    i = plan.find("PartitionFilters")
    assert i >= 0 and "ts_bucket" in plan[i : i + 200]
    # the partition filter carries real bounds, not just isnotnull
    assert ">= 2024-01-02" in plan[i : i + 300]


def test_bucket_pruned_paging_matches_full_scan(spark, tmp):
    """DocStore.match_all_page_frame prunes to the newest/oldest buckets
    that cover offset+size, and paging over it equals paging over the full
    store — the fraction-pruning analog: a first page must not scan the
    corpus."""
    store = streamed_store(spark, tmp)
    full = SearchTable.from_docs(store.read(), MAPPING)
    n_parts = len(store.partitions())  # 9 buckets x 2 docs
    for size, offset, order in ((2, 0, "desc"), (3, 2, "desc"), (2, 0, "asc"),
                                (5, 4, "asc")):
        chosen = store._page_buckets(size + offset, order)
        assert len(chosen) < n_parts  # actually pruned
        paged = SearchTable.from_docs(
            store.match_all_page_frame(size, offset, order), MAPPING
        ).search("*", size=size, offset=offset, order=order)
        want = full.search("*", size=size, offset=offset, order=order)
        assert [r["mid"] for r in paged.collect()] == [
            r["mid"] for r in want.collect()
        ], (size, offset, order)
    # a page deeper than the store: all buckets selected, result matches
    deep = SearchTable.from_docs(
        store.match_all_page_frame(100, 0, "desc"), MAPPING
    ).search("*", size=100, order="desc")
    assert deep.count() == full.search("*", size=100, order="desc").count()


def test_page_bucket_selection_launches_no_spark_jobs(spark, tmp):
    """Bucket selection for match-all paging reads parquet FOOTER metadata,
    not data: zero Spark jobs (VERDICT r6 #2 — at 100 TB a deep page over
    thousands of buckets must not run a job per bucket)."""
    store = streamed_store(spark, tmp)
    sc = spark.sparkContext
    group = "page-bucket-probe"
    sc.setJobGroup(group, "bucket selection must be metadata-only")
    try:
        chosen = store._page_buckets(5, "desc")
        counts = {b: store.bucket_row_count(b) for b in store.partitions()}
    finally:
        sc.setJobGroup(None, None)
    assert chosen and counts
    assert all(c == 2 for c in counts.values())  # 9 buckets x 2 docs
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(group) == []


def test_store_meta_pins_bucket_fmt_and_timezone(spark, tmp):
    """The first append persists (bucket_fmt, session timezone); reopening
    with either changed raises instead of silently computing different
    bucket labels for the same instants (ADVICE r6)."""
    store = streamed_store(spark, tmp)
    # same fmt + tz reopens fine
    DocStore(spark, store.path)
    with pytest.raises(ValueError, match="bucket_fmt"):
        DocStore(spark, store.path, bucket_fmt="yyyy-MM-dd")
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="timezone"):
            DocStore(spark, store.path)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_non_monotone_bucket_fmt_rejected(spark, tmp):
    with pytest.raises(ValueError, match="monotone"):
        DocStore(spark, os.path.join(tmp, "bad"), bucket_fmt="yyyy-M-d")
    with pytest.raises(ValueError, match="monotone"):
        SearchTable.from_docs(
            spark.range(0).toDF("id"), MAPPING, bucket_fmt="yyyy-M-d"
        )


def test_append_writes_ts_clustered_row_groups(spark, tmp):
    """append() sorts each task's slice by ts before writing, so row-group
    ts stats are tight and disjoint — the property that makes sub-bucket
    time windows skip row groups (VERDICT r6 #1). Verified on the footer
    stats themselves with a small parquet block size forcing >=2 row
    groups per file."""
    import pyarrow.parquet as pq

    rows = [
        (json.dumps({"timestamp": f"2024-01-01 10:{m:02d}:{s:02d}.000",
                     "service": "auth", "message": f"m{m}{s}"}),)
        for m in range(60) for s in range(0, 60, 6)
    ]
    import random

    random.Random(7).shuffle(rows)  # arrival order is NOT time order
    frame = ingest_docs(
        spark.createDataFrame(rows, "raw string"),
        MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
    ).coalesce(1)
    path = os.path.join(tmp, "clustered_store")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(16 * 1024))
    try:
        DocStore(spark, path).append(frame)
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    saw_multi_rg = False
    for f in files:
        meta = pq.ParquetFile(f).metadata
        ts_idx = [
            meta.schema.column(i).name for i in range(len(meta.schema))
        ].index("ts")
        stats = [meta.row_group(g).column(ts_idx).statistics
                 for g in range(meta.num_row_groups)]
        saw_multi_rg = saw_multi_rg or len(stats) > 1
        # within each row group min<=max; across adjacent groups disjoint
        for a, b in zip(stats, stats[1:]):
            assert a.max <= b.min, (f, a.max, b.min)
    assert saw_multi_rg  # the assertion above actually exercised >1 group


def test_retention_by_age_and_size(spark, tmp):
    store = streamed_store(spark, tmp)
    parts = store.partitions()
    dropped = store.retain(min_bucket=parts[3])
    assert dropped == parts[:3]
    assert store.read().count() == len(DOCS) - 6
    dropped2 = store.retain(max_total_bytes=1)
    assert len(dropped2) == 6
    assert store.partitions() == []


def test_compaction_preserves_rows(spark, tmp):
    store = streamed_store(spark, tmp)
    bucket = store.partitions()[0]
    before = store.read().count()
    store.compact(bucket)
    assert store.read().count() == before


def test_async_search_lifecycle(spark, tmp):
    a = AsyncSearcher(spark, os.path.join(tmp, "async"))
    job = a.start("demo-query", lambda: spark.range(5).toDF("x"), ttl_sec=3600)
    meta = a.wait(job, timeout=120)
    assert meta["status"] == "done"
    assert meta["query"] == "demo-query"
    assert a.fetch(job).count() == 5
    assert a.status("missing") is None
    # expire with ttl 0 drops the job
    meta["ttl_sec"] = -1
    with open(os.path.join(tmp, "async", job, "meta.json"), "w") as f:
        json.dump(meta, f)
    assert job in a.expire()
    assert a.status(job) is None


def test_async_search_runs_in_background(spark, tmp):
    """start() returns while the job is still computing; status transitions
    running → done are observable (`fracmanager/async_searcher.go:104-160`)."""
    import threading
    import time as _time

    a = AsyncSearcher(spark, os.path.join(tmp, "async"))
    gate = threading.Event()

    def slow_df():
        gate.wait(30)  # hold the job until the test has observed "running"
        return spark.range(3).toDF("x")

    job = a.start("slow-query", slow_df)
    assert a.status(job)["status"] == "running"
    gate.set()
    meta = a.wait(job, timeout=120)
    assert meta["status"] == "done"
    assert a.fetch(job).count() == 3


def test_async_search_error_status(spark, tmp):
    a = AsyncSearcher(spark, os.path.join(tmp, "async"))

    def boom():
        raise RuntimeError("bad query")

    job = a.start("boom", boom)
    meta = a.wait(job, timeout=120)
    assert meta["status"] == "error"
    assert "bad query" in meta["error"]
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        a.fetch(job)


def test_async_search_restart_resume(spark, tmp):
    """A job persisted as running with no live thread (process died) is
    re-executed from its stored query on restart
    (`fracmanager/async_searcher.go:77-82`)."""
    base = os.path.join(tmp, "async")
    a = AsyncSearcher(spark, base)
    job = a.start("select-7", lambda: spark.range(7).toDF("x"), background=False)
    assert a.status(job)["status"] == "done"
    # simulate a crash mid-run: meta says running, no result, no thread
    crashed = a.start("select-4", lambda: spark.range(4).toDF("x"), background=False)
    meta = a.status(crashed)
    meta["status"] = "running"
    with open(os.path.join(base, crashed, "meta.json"), "w") as f:
        json.dump(meta, f)

    b = AsyncSearcher(spark, base)  # "restarted" process
    resumed = b.resume_pending(
        lambda q: spark.range(int(q.split("-")[1])).toDF("x")
    )
    assert resumed == [crashed]
    assert b.wait(crashed, timeout=120)["status"] == "done"
    assert b.fetch(crashed).count() == 4
    # finished jobs are not re-run
    assert b.resume_pending(lambda q: spark.range(1).toDF("x")) == []


def test_maintain_compacts_fragmented_partitions(spark, tmp):
    """maintain() seals partitions that accumulated too many small append
    files (`fracmanager/fracmanager.go:344-385` sealing loop)."""
    store = DocStore(spark, os.path.join(tmp, "m_store"))
    frame = ingest_docs(
        spark.createDataFrame(
            [(json.dumps({"timestamp": "2024-01-01 10:00:00.000",
                          "service": "auth", "message": f"m{i}"}),) for i in range(3)],
            "raw string",
        ),
        MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
    ).repartition(4)
    for _ in range(3):  # 3 appends x up-to-4 files each
        store.append(frame)
    bucket = store.partitions()[0]
    before_rows = store.read().count()
    assert store.partition_file_count(bucket) > 8
    assert store.maintain(max_files_per_partition=8) == [bucket]
    assert store.partition_file_count(bucket) == 1
    assert store.read().count() == before_rows
    # already sealed → no-op
    assert store.maintain(max_files_per_partition=8) == []


def test_mapping_evolution_old_store_new_field(spark, tmp):
    """A store written under an older mapping answers queries that use a
    newly mapped field: no rows (and _exists_ false), never an error."""
    old = Mapping({"service": "keyword"})
    frame = ingest_docs(
        spark.createDataFrame(
            [(json.dumps({"timestamp": "2024-01-01 10:00:00.000",
                          "service": "auth", "level": "info"}),)],
            "raw string",
        ),
        old, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    store = DocStore(spark, os.path.join(tmp, "evo_store"))
    store.append(frame)
    new = Mapping({"service": "keyword", "level": "keyword"})
    st = SearchTable.from_docs(store.read(), new)
    assert st.search("service:auth").count() == 1
    assert st.search("level:info").count() == 0  # not indexed at write time
    assert st.search("_exists_:level").count() == 0
    assert st.search("service:auth and not _exists_:level").count() == 1


def test_compact_crash_recovery(spark, tmp):
    """A crash leaves files no manifest version names: an append's
    staged output under ``_staging/`` and a compaction's sealed file
    already moved into its bucket but never committed. Neither is ever
    read; the reopened store's first maintenance pass sweeps both, and
    committed rows, the store meta and async-job files remain."""
    import shutil

    store = streamed_store(spark, tmp)
    bucket = store.partitions()[0]
    before = store.read().count()
    bdir = os.path.join(store.path, f"ts_bucket={bucket}")
    live = sorted(f for f in os.listdir(bdir) if f.endswith(".parquet"))
    staged = os.path.join(store.path, "_staging", "crashed",
                          f"ts_bucket={bucket}")
    os.makedirs(staged)
    shutil.copy(os.path.join(bdir, live[0]),
                os.path.join(staged, "part-staged.parquet"))
    sealed = os.path.join(bdir, "part-uncommitted.parquet")
    shutil.copy(os.path.join(bdir, live[0]), sealed)
    job = os.path.join(store.path, "_async_search", "job.json")
    os.makedirs(os.path.dirname(job))
    with open(job, "w") as f:
        f.write("{}")
    reopened = DocStore(spark, store.path)
    assert reopened.read().count() == before  # leftovers are never read
    assert reopened.maintain(max_files_per_partition=10**6) == []
    assert os.listdir(os.path.join(store.path, "_staging")) == []
    assert sorted(f for f in os.listdir(bdir)
                  if f.endswith(".parquet")) == live
    assert os.path.exists(os.path.join(store.path, "_store_meta.json"))
    assert os.path.exists(job)
    assert DocStore(spark, store.path).read().count() == before


def test_fields_pipe_projects_raw_json(spark):
    """On a doc store, `| fields` filters the returned JSON text itself
    (reference FieldsFilter on fetched docs, `storeapi/grpc_fetch.go:
    170-216`)."""
    frame = ingest_docs(
        spark.createDataFrame(
            [(json.dumps({"timestamp": "2024-01-01 10:00:00.000",
                          "service": "auth", "message": "hi"}),)],
            "raw string",
        ),
        MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    st = SearchTable.from_docs(frame, MAPPING)
    row = st.search("service:auth | fields service").select("raw").collect()[0]
    assert json.loads(row["raw"]) == {"service": "auth"}
    row2 = st.search("service:auth | fields except message, timestamp").select("raw").collect()[0]
    assert json.loads(row2["raw"]) == {"service": "auth"}


def test_stream_ingest_maintains_index(spark, tmp):
    """stream_ingest(index=...) refreshes exactly the touched buckets; the
    index answers queries immediately after the batch."""
    from seqspark.index import StoreIndex

    indir = os.path.join(tmp, "in")
    write_ndjson(os.path.join(indir, "docs.ndjson"), DOCS)
    store = DocStore(spark, os.path.join(tmp, "store"))
    idx = StoreIndex(
        store, os.path.join(tmp, "index"), {"message": F.col("tokens")["message"]}
    )
    q = stream_ingest(
        spark, indir, store, MAPPING, os.path.join(tmp, "ckpt"),
        allowed_drift_ms=BIG, future_drift_ms=BIG, index=idx,
    )
    q.awaitTermination(120)
    assert idx.search("message", ["msg", "auth"]).count() == 9
    st = SearchTable.from_store(store, MAPPING).attach_index(
        idx.read(), ["message"]
    )
    assert st.search("message:msg and message:auth").count() == 9


def test_sessionize_stateful(spark, tmp):
    """applyInPandasWithState sessionization: sessions close via event-time
    timeout once later batches advance the watermark."""
    from seqspark.streaming import sessionize

    indir = os.path.join(tmp, "sess_in")
    ckpt = os.path.join(tmp, "sess_ckpt")

    def write_batch(name, rows):
        write_ndjson(
            os.path.join(indir, name),
            [{"ts": t, "svc": s} for t, s in rows],
        )

    emitted = []

    def run_once():
        raw = (
            spark.readStream.schema("ts string, svc string")
            .json(indir)
            .withColumn("ts", F.to_timestamp("ts"))
        )
        sess = sessionize(raw, "svc", gap_ms=60_000, watermark="0 seconds")
        q = (
            sess.writeStream.foreachBatch(
                lambda df, _id: emitted.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: two auth events 10s apart (one session), one pay event
    write_batch("b1.json", [
        ("2024-01-01 10:00:00", "auth"),
        ("2024-01-01 10:00:10", "auth"),
        ("2024-01-01 10:00:05", "pay"),
    ])
    run_once()
    # batch 2: far-future event advances the watermark past every timeout
    write_batch("b2.json", [("2024-01-01 12:00:00", "auth")])
    run_once()
    # batch 3: another nudge so batch-2 state can also time out if due
    write_batch("b3.json", [("2024-01-01 14:00:00", "pay")])
    run_once()
    rows = {
        (r["svc"], r["n_events"]): (r["session_start_ms"], r["session_end_ms"])
        for r in emitted
    }
    assert ("auth", 2) in rows  # the 10:00:00-10:00:10 session
    start, end = rows[("auth", 2)]
    assert end - start == 10_000
    assert ("pay", 1) in rows
    """Watermarked tumbling-window histogram over a file stream: closed
    hourly buckets emit with the batch histogram's counts; the newest
    bucket stays open (append mode) until the watermark passes it."""
    from seqspark.ingest import parse_event_time
    from seqspark.streaming import stream_histogram

    indir = os.path.join(tmp, "hin")
    write_ndjson(os.path.join(indir, "docs.ndjson"), DOCS)
    raw = (
        spark.readStream.format("text")
        .load(indir)
        .withColumnRenamed("value", "raw")
        .withColumn("ts", parse_event_time(F.col("raw")))
    )
    hist = stream_histogram(raw, interval_ms=3600_000, watermark="0 seconds")
    q = (
        hist.writeStream.format("memory")
        .queryName("hist_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["bucket_ms"]: r["cnt"]
        for r in spark.sql("SELECT * FROM hist_sink").collect()
    }
    # batch truth: 9 hourly buckets x 2 docs; the max-ts bucket is still open
    assert len(got) == 8
    assert all(cnt == 2 for cnt in got.values())
    from seqspark.bulk import bulk_to_df, parse_bulk_body

    body = "\n".join(
        [
            '{"index": {}}',
            '{"timestamp": "2024-01-01 10:00:00.000", "service": "auth", "message": "ok"}',
            '{"create": {}}',
            '{"timestamp": "2024-01-01 11:00:00.000", "service": "pay", "message": "paid"}',
            '{"delete": {"_id": "1"}}',
            '{"index": {}}',
            "[1, 2]",
        ]
    ).encode()
    res = parse_bulk_body(body)
    assert len(res.docs) == 2
    assert res.errors  # delete unsupported + non-object doc
    statuses = [list(i.values())[0]["status"] for i in res.items]
    assert statuses == [201, 201, 400, 400]
    df = bulk_to_df(spark, res)
    frame = ingest_docs(df, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG)
    st = SearchTable.from_docs(frame, MAPPING)
    assert st.search("service:auth").count() == 1
    assert st.search("message:paid").count() == 1


def test_stream_histogram_out_of_order_parity(spark, tmp):
    """Out-of-order arrival parity (`proxy/bulk/processor.go:88-99` clamp
    policy): events arriving shuffled WITHIN a micro-batch and LATE across
    micro-batches (but inside the watermark) land in the same buckets with
    the same counts as the batch histogram; an event later than the
    watermark is dropped — the streaming twin of the reference's
    clamp-at-ingest, which guarantees such data never exists."""
    import time as _time

    from seqspark.ingest import parse_event_time
    from seqspark.streaming import stream_histogram

    def ev(ts):
        return {"timestamp": ts, "service": "auth", "message": "m"}

    indir = os.path.join(tmp, "ooin")
    # batch 0: shuffled within the file; 12:05 advances max event time
    write_ndjson(os.path.join(indir, "0.ndjson"), [
        ev("2024-01-01 12:05:00.000"),
        ev("2024-01-01 10:10:00.000"),
        ev("2024-01-01 10:00:00.000"),
        ev("2024-01-01 10:20:00.000"),
    ])
    # batch 1: LATE events (hour-10/11 data after 12:05 was seen) — the
    # 90-minute watermark still admits them
    write_ndjson(os.path.join(indir, "1.ndjson"), [
        ev("2024-01-01 11:30:00.000"),
        ev("2024-01-01 10:40:00.000"),
        ev("2024-01-01 11:15:00.000"),
    ])
    # batch 2: one event PAST the watermark (09:10 < 12:05 - 90min window
    # close) -> dropped; 20:00 pushes the watermark so hours 10-12 emit
    write_ndjson(os.path.join(indir, "2.ndjson"), [
        ev("2024-01-01 09:10:00.000"),
        ev("2024-01-01 20:00:00.000"),
    ])
    now = _time.time()
    for i in range(3):  # file-source batch order follows modification time
        os.utime(os.path.join(indir, f"{i}.ndjson"), (now + i, now + i))

    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(indir)
        .withColumnRenamed("value", "raw")
        .withColumn("ts", parse_event_time(F.col("raw")))
    )
    hist = stream_histogram(raw, interval_ms=3600_000, watermark="90 minutes")
    q = (
        hist.writeStream.format("memory")
        .queryName("oo_hist_sink")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmp, "oockpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["bucket_ms"]: r["cnt"]
        for r in spark.sql("SELECT * FROM oo_hist_sink").collect()
    }

    def bucket(hour):
        return 1704067200000 + hour * 3600_000  # 2024-01-01 00:00 UTC

    # parity with the batch histogram over the non-dropped rows: late
    # in-watermark events counted in their EVENT-TIME buckets
    assert got == {bucket(10): 4, bucket(11): 2, bucket(12): 1}
    # the too-late 09:10 event is gone; the 20:00 bucket is still open
    assert bucket(9) not in got and bucket(20) not in got


def test_es_bulk_gzip(spark):
    import gzip

    from seqspark.bulk import parse_bulk_body

    body = b'{"index": {}}\n{"service": "a"}\n'
    res = parse_bulk_body(gzip.compress(body), gzipped=True)
    assert len(res.docs) == 1 and not res.errors


def test_stream_dedup_within_watermark(spark, tmp):
    """Duplicate keys inside the watermark window collapse to one row;
    state is the built-in dropDuplicatesWithinWatermark store (bounded by
    the watermark, the only state bound that survives at stream scale)."""
    from seqspark.ingest import parse_event_time
    from seqspark.streaming import stream_dedup

    dup_docs = [
        {"timestamp": "2024-01-01 10:00:00.000", "service": "auth",
         "message": "dup-a"},
        {"timestamp": "2024-01-01 10:00:01.000", "service": "auth",
         "message": "dup-a"},  # same digest key, 1s later
        {"timestamp": "2024-01-01 10:00:02.000", "service": "pay",
         "message": "uniq-b"},
        {"timestamp": "2024-01-01 10:00:03.000", "service": "auth",
         "message": "dup-a"},  # third copy
        {"timestamp": "2024-01-01 10:00:04.000", "service": "pay",
         "message": "uniq-c"},
    ]
    indir = os.path.join(tmp, "dedup_in")
    write_ndjson(os.path.join(indir, "docs.ndjson"), dup_docs)
    raw = (
        spark.readStream.format("text")
        .load(indir)
        .withColumnRenamed("value", "raw")
        .withColumn("ts", parse_event_time(F.col("raw")))
        .withColumn("digest", F.md5(F.get_json_object("raw", "$.message")))
    )
    deduped = stream_dedup(raw, ["digest"], watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql(
        "SELECT get_json_object(raw, '$.message') AS m FROM dedup_sink"
    ).collect()
    msgs = sorted(r["m"] for r in rows)
    assert msgs == ["dup-a", "uniq-b", "uniq-c"]


def test_fraction_hits_guard_store_level(spark, tmp):
    """A snapshot's buckets_in_range is a driver-side metadata filter
    matching what date_format wrote; check_fraction_hits enforces
    --search-fraction-limit with the reference's remedy message
    (`fracmanager/searcher.go:88-97`)."""
    from seqspark.store import TooManyFractionsHit

    store = streamed_store(spark, tmp)
    parts = store.partitions()
    assert len(parts) == 9  # 3 days x 3 hours
    # a one-bucket window
    import datetime as dt

    t0 = int(dt.datetime(2024, 1, 2, 1, 0, tzinfo=dt.timezone.utc).timestamp() * 1000)
    snap = store.snapshot()
    assert snap.buckets_in_range(t0, t0 + 3599_000) == ["2024-01-02-01"]
    # open-ended bounds
    assert snap.buckets_in_range(t0, None) == [p for p in parts if p >= "2024-01-02-01"]
    snap.check_fraction_hits(t0, t0 + 3599_000, 1)  # within limit: no raise
    with pytest.raises(TooManyFractionsHit, match="try decreasing"):
        snap.check_fraction_hits(None, None, 8)
    snap.check_fraction_hits(None, None, 0)  # 0 disables, like the flag


def test_stream_ingest_with_dedup_watermark(spark, tmp):
    """dedup_watermark drops byte-identical re-deliveries before append:
    the store holds one copy per distinct raw line; distinct docs all
    land."""
    indir = os.path.join(tmp, "ddin")
    docs = DOCS[:4]
    write_ndjson(os.path.join(indir, "a.ndjson"), docs + docs[:2])  # 2 dups
    store = DocStore(spark, os.path.join(tmp, "ddstore"))
    q = stream_ingest(
        spark, indir, store, MAPPING, os.path.join(tmp, "ddckpt"),
        allowed_drift_ms=BIG, future_drift_ms=BIG,
        dedup_watermark="1 hour",
    )
    q.awaitTermination(120)
    assert store.read().count() == len(docs)
    # without the option the same input keeps both copies... except the
    # engine's (mid, rid) identity already collapses byte-identical docs
    # at the same clamped ms — so assert the deduped path simply equals
    # the batch-ingest of the DISTINCT set
    st = SearchTable.from_store(store, MAPPING)
    assert st.search("*").count() == len(docs)


def test_from_store_wires_partition_pruning(spark, tmp):
    """SearchTable.from_store (the HTTP/gRPC server's table path) must
    carry the store's bucket_fmt: before round 7 it silently skipped
    partition pruning that search_table applied."""
    store = streamed_store(spark, tmp)
    st = SearchTable.from_store(store, MAPPING)
    F_, T_ = 1704153600000, 1704239999999  # 2024-01-02 only
    a = st.search("service:auth", from_ms=F_, to_ms=T_)
    assert a.count() == 3
    plan = a._jdf.queryExecution().executedPlan().toString()
    i = plan.find("PartitionFilters")
    assert i >= 0 and "ts_bucket" in plan[i : i + 200]
    assert ">= 2024-01-02" in plan[i : i + 300]


def test_server_over_tiered_store(spark, tmp):
    """A TieredStore drops into the server wherever a DocStore does:
    dual-writes on bulk, hot retention moves history behind the cold
    tier, searches stay complete, fraction guard spans both tiers."""
    import json as _json
    import urllib.request

    from seqspark.server import SeqSparkServer
    from seqspark.store import TieredStore, TooManyFractionsHit

    hot = DocStore(spark, os.path.join(tmp, "hot"))
    cold = DocStore(spark, os.path.join(tmp, "cold"))
    tiered = TieredStore(hot, cold)
    srv = SeqSparkServer(
        spark, tiered, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG
    ).start()
    try:
        lines = []
        for d in DOCS:
            lines.append('{"index": {}}')
            lines.append(json.dumps(d))
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/_bulk",
            data="\n".join(lines).encode(),
        )
        urllib.request.urlopen(req).read()
        assert hot.partitions() == cold.partitions() != []

        def search_total():
            r = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/search",
                data=_json.dumps({"query": "*", "size": 1,
                                  "with_total": True}).encode(),
            )
            return _json.loads(urllib.request.urlopen(r).read())["total"]

        assert search_total() == len(DOCS)
        # rotate the oldest day out of hot: results must not change
        tiered.maintain(hot_min_bucket="2024-01-02-00")
        assert len(hot.partitions()) < len(cold.partitions())
        assert search_total() == len(DOCS)
        # fraction guard counts owned buckets across both tiers
        with pytest.raises(TooManyFractionsHit):
            tiered.snapshot().check_fraction_hits(None, None, 3)
        assert len(tiered.snapshot().buckets_in_range(None, None)) == 9
    finally:
        srv.stop()


def test_partition_pruning_with_date_typed_buckets(spark, tmp):
    """bucket_fmt='yyyy-MM-dd' directories are inferred as DATE partition
    columns; the prune bounds must compare in that type — the old
    string-only check silently disabled directory pruning for two of the
    four documented MONOTONE_BUCKET_FMTS."""
    store = DocStore(spark, os.path.join(tmp, "datestore"),
                     bucket_fmt="yyyy-MM-dd")
    lines = [
        json.dumps({"timestamp": f"2024-01-0{d} 10:00:00.000",
                    "service": "auth", "message": f"m{d}"})
        for d in range(1, 6)
    ]
    frame = ingest_docs(
        spark.createDataFrame([(l,) for l in lines], "raw string"),
        MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    store.append(frame)
    st = SearchTable.from_store(store, MAPPING)
    f_ms, t_ms = 1704153600000, 1704239999999  # 2024-01-02 only
    out = st.search("*", from_ms=f_ms, to_ms=t_ms)
    assert out.count() == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    i = plan.find("PartitionFilters")
    assert i >= 0, "expected PartitionFilters in the plan"
    window = plan[i : i + 300]
    assert "ts_bucket" in window and "2024-01-02" in window


def test_tiered_store_late_arrival_no_bucket_loss(spark, tmp):
    """Bucket ownership is by MEMBERSHIP, not a `< oldest_hot` threshold:
    after hot retention drops a middle bucket (still in cold), a LATE
    event older than hot's window must not hide the retained-away bucket
    from both tiers."""
    from seqspark.store import TieredStore

    def frame(hours):
        lines = [json.dumps({"timestamp": f"2024-01-01 {h:02d}:00:00.000",
                             "service": "auth", "message": f"m{h}"})
                 for h in hours]
        return ingest_docs(
            spark.createDataFrame([(l,) for l in lines], "raw string"),
            MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
        )

    hot = DocStore(spark, os.path.join(tmp, "la_hot"))
    cold = DocStore(spark, os.path.join(tmp, "la_cold"))
    tiered = TieredStore(hot, cold)
    tiered.append(frame([10, 11, 12]))
    # hot retention drops the 10:00 bucket (cold keeps it)
    hot.retain(min_bucket=hot.partitions()[1])
    assert len(hot.partitions()) == 2
    # a LATE doc (09:00) lands in hot, making hot's oldest bucket OLDER
    # than the retained-away 10:00 bucket
    tiered.append(frame([9]))
    assert tiered.read().count() == 4  # 9,10,11,12 — nothing lost
    assert len(tiered.partitions()) == 4
    st = SearchTable.from_store(tiered, MAPPING)
    assert st.search("*").count() == 4


def test_compact_respects_custom_ts_col(spark, tmp):
    """A store appended with ts_col != 'ts' seals by the pinned column —
    compact() used to hardcode sort('ts') and abort maintain() with an
    AnalysisException."""
    store = DocStore(spark, os.path.join(tmp, "custom_ts"))
    df = spark.createDataFrame(
        [(i, f"2024-01-01 10:{i:02d}:00") for i in range(6)],
        "k long, t string",
    ).select("k", F.to_timestamp("t").alias("event_time"))
    for _ in range(3):
        store.append(df.repartition(4), ts_col="event_time")
    bucket = store.partitions()[0]
    before = store.read().count()
    assert store.maintain(max_files_per_partition=2) == [bucket]
    assert store.partition_file_count(bucket) == 1
    assert store.read().count() == before
    # mixing ts_col on one store is refused (the pin exists so sealing
    # sorts by the right column)
    with pytest.raises(ValueError):
        store.append(df.withColumnRenamed("event_time", "ts"), ts_col="ts")


def test_legacy_meta_backfills_ts_col(spark, tmp):
    """A pre-ts_col store (meta file written before the key existed)
    appended with a custom ts_col must not be rejected by the pin check:
    the first post-upgrade append backfills the key from the caller, and
    compaction then sorts by it."""
    path = os.path.join(tmp, "legacy_ts")
    store = DocStore(spark, path)
    df = spark.createDataFrame(
        [(i, f"2024-01-01 10:{i:02d}:00") for i in range(6)],
        "k long, t string",
    ).select("k", F.to_timestamp("t").alias("event_time"))
    store.append(df, ts_col="event_time")
    # simulate legacy: strip the ts_col key from the on-disk meta
    meta_path = os.path.join(path, "_store_meta.json")
    meta = json.loads(open(meta_path).read())
    del meta["ts_col"]
    with open(meta_path, "w") as f:
        f.write(json.dumps(meta))
    crc = os.path.join(os.path.dirname(meta_path), "._store_meta.json.crc")
    if os.path.exists(crc):  # hadoop LocalFileSystem checksum sidecar
        os.remove(crc)
    # a fresh handle appends with the custom column: no ValueError, and
    # the meta is backfilled so the pin holds from here on
    store2 = DocStore(spark, path)
    store2.append(df, ts_col="event_time")
    assert json.loads(open(meta_path).read())["ts_col"] == "event_time"
    with pytest.raises(ValueError):
        store2.append(df.withColumnRenamed("event_time", "ts"), ts_col="ts")
    bucket = store2.partitions()[0]
    store2.compact(bucket)
    assert store2.partition_file_count(bucket) == 1
    assert store2.read().count() == 12


def test_legacy_meta_compact_falls_back_to_timestamp_column(spark, tmp):
    """compact() on a legacy store (meta lacks ts_col) whose data has no
    'ts' column must not fail on the absent default: it sorts by the
    first timestamp-typed column instead."""
    path = os.path.join(tmp, "legacy_compact")
    store = DocStore(spark, path)
    df = spark.createDataFrame(
        [(i, f"2024-01-01 10:{i:02d}:00") for i in range(6)],
        "k long, t string",
    ).select("k", F.to_timestamp("t").alias("event_time"))
    for _ in range(2):
        store.append(df.repartition(3), ts_col="event_time")
    meta_path = os.path.join(path, "_store_meta.json")
    meta = json.loads(open(meta_path).read())
    del meta["ts_col"]
    with open(meta_path, "w") as f:
        f.write(json.dumps(meta))
    crc = os.path.join(os.path.dirname(meta_path), "._store_meta.json.crc")
    if os.path.exists(crc):  # hadoop LocalFileSystem checksum sidecar
        os.remove(crc)
    store2 = DocStore(spark, path)
    bucket = store2.partitions()[0]
    store2.compact(bucket)  # no AnalysisException on missing 'ts'
    assert store2.partition_file_count(bucket) == 1
    assert store2.read().count() == 12


def test_async_expire_never_deletes_running_job(spark, tmp):
    """expire() must not rmtree a job whose thread is still executing —
    deleting under a running Spark write races the result write (the
    parquet job recreates the directory, resurrecting an expired job) or
    crashes the daemon thread. A past-TTL running job is marked canceled;
    the directory is reclaimed on a later pass once the thread drains."""
    import threading
    import time as _t

    a = AsyncSearcher(spark, os.path.join(tmp, "async_expire"))
    release = threading.Event()

    def factory():
        release.wait(60)
        return spark.range(1)

    jid = a.start("q", factory, ttl_sec=0)  # expired the moment it starts
    _t.sleep(0.05)
    dropped = a.expire()
    assert jid not in dropped
    meta = a.status(jid)
    assert meta is not None and meta["status"] == "canceled"
    release.set()
    a.wait(jid, timeout=120)
    # completion observed the cancel marker and discarded its result
    assert a.status(jid)["status"] == "canceled"
    dropped = a.expire()
    assert jid in dropped and a.status(jid) is None


def test_sessionize_survives_old_events_after_watermark(spark, tmp):
    """A batch whose events are far older than the advanced watermark must
    not fail the query: an unclamped setTimeoutTimestamp at/below the
    watermark raises inside Spark and kills the stream."""
    from seqspark.streaming import sessionize

    indir = os.path.join(tmp, "sess_late_in")
    ckpt = os.path.join(tmp, "sess_late_ckpt")
    emitted = []

    def write_batch(name, rows):
        write_ndjson(
            os.path.join(indir, name), [{"ts": t, "svc": s} for t, s in rows]
        )

    def run_once():
        raw = (
            spark.readStream.schema("ts string, svc string")
            .json(indir)
            .withColumn("ts", F.to_timestamp("ts"))
        )
        sess = sessionize(raw, "svc", gap_ms=60_000, watermark="0 seconds")
        q = (
            sess.writeStream.foreachBatch(
                lambda df, _id: emitted.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("b1.json", [("2024-01-01 12:00:00", "auth")])
    run_once()  # watermark advances to 12:00
    # brand-new key, 3 hours older than the watermark
    write_batch("b2.json", [("2024-01-01 09:00:00", "late")])
    run_once()  # must complete, not raise
    write_batch("b3.json", [("2024-01-01 14:00:00", "auth")])
    run_once()
    # the in-watermark session still closes correctly
    assert any(r["svc"] == "auth" and r["n_events"] == 1 for r in emitted)


def test_concurrent_appends_keep_int64_timestamps(spark, tmp):
    """The INT64-timestamp write conf is SESSION-global: two overlapping
    appends (different stores, one session — a server bulk racing a
    streaming micro-batch) must not let the first append's exit restore
    INT96 while the second's write job runs. Every file of both stores
    must be INT64 TIMESTAMP (stats + pushdown), and the conf must be back
    to its original value afterward."""
    import threading

    import pyarrow.parquet as pq

    key = "spark.sql.parquet.outputTimestampType"
    before = spark.conf.get(key)
    rows = [
        (json.dumps({"timestamp": f"2024-01-01 10:00:{s:02d}.000",
                     "service": "auth", "message": f"m{s}"}),)
        for s in range(40)
    ]
    frame = ingest_docs(
        spark.createDataFrame(rows, "raw string"),
        MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    paths = [os.path.join(tmp, f"cc_store_{i}") for i in range(4)]
    errs = []

    def append_to(p):
        try:
            DocStore(spark, p).append(frame)
        except Exception as e:  # pragma: no cover - surfaced via errs
            errs.append(e)

    threads = [threading.Thread(target=append_to, args=(p,)) for p in paths]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert spark.conf.get(key) == before
    for p in paths:
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        ]
        assert files
        for f in files:
            schema = pq.ParquetFile(f).metadata.schema
            ts = schema.column(
                [schema.column(i).name for i in range(len(schema))].index("ts")
            )
            # INT96 shows physical_type INT96 and no logical type
            assert ts.physical_type == "INT64", (f, ts.physical_type)


def test_concurrent_append_and_compact_lose_nothing(spark, tmp):
    """compact()'s directory swap would silently DELETE any file an
    overlapping append landed after compact's read — the per-path write
    lock serializes them; under concurrent appenders + a compaction loop
    every appended row must survive."""
    import threading

    path = os.path.join(tmp, "cc_compact_store")
    rows_per_append, appends_per_thread, n_threads = 50, 4, 3

    def frame(tid, k):
        rows = [
            (json.dumps({"timestamp": "2024-01-01 10:00:00.000",
                         "service": f"s{tid}",
                         "message": f"doc {tid} {k} {i}"}),)
            for i in range(rows_per_append)
        ]
        return ingest_docs(
            spark.createDataFrame(rows, "raw string"),
            MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
        )

    store = DocStore(spark, path)
    store.append(frame(9, 9))  # seed so the bucket exists for compact
    bucket = store.partitions()[0]
    stop = threading.Event()
    errs = []

    def appender(tid):
        try:
            st = DocStore(spark, path)  # own instance, same path
            for k in range(appends_per_thread):
                st.append(frame(tid, k))
        except Exception as e:
            errs.append(e)

    def maintainer():
        try:
            st = DocStore(spark, path)
            while not stop.is_set():
                st.compact(bucket, target_files=1)
        except Exception as e:
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(t,)) for t in range(n_threads)]
    m = threading.Thread(target=maintainer)
    m.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    stop.set()
    m.join()
    assert not errs, errs
    expected = rows_per_append * (appends_per_thread * n_threads + 1)
    assert DocStore(spark, path).read().count() == expected


def test_retention_under_running_query_reads_pinned_rows(spark, tmp):
    """Retention committed while a query holds its snapshot deletes none
    of the query's files: the pinned frame still reads every row it
    listed, with no error and no replan, while the next snapshot reads
    correctly-fewer rows. The dropped bucket goes when the snapshot is
    released."""
    path = os.path.join(tmp, "rot_store")
    store = DocStore(spark, path)
    for h in (10, 11):
        rows = [
            (json.dumps({"timestamp": f"2024-01-01 {h}:00:{i:02d}.000",
                         "service": "s", "message": f"m{h}{i}"}),)
            for i in range(20)
        ]
        store.append(ingest_docs(
            spark.createDataFrame(rows, "raw string"),
            MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
        ))
    snap = store.snapshot()
    df = snap.read()
    assert df.count() == 40
    victim, kept = store.partitions()
    assert store.retain(min_bucket=kept) == [victim]
    assert df.count() == 40  # the pinned files are still on disk
    assert store.read().count() == 20
    assert os.path.exists(os.path.join(path, f"ts_bucket={victim}"))
    snap.release()
    assert not os.path.exists(os.path.join(path, f"ts_bucket={victim}"))


def test_async_search_concurrency_capped(spark, tmp):
    """`--async-searches-concurrency` (`cmd/seq-db/flags.go:109`): at most
    N async searches execute at once; start() still returns immediately
    and queued jobs run (and finish) when a slot frees. A job canceled
    while queued never executes."""
    import threading
    import time as _t

    searcher = AsyncSearcher(spark, os.path.join(tmp, "async_cap"),
                             parallelism=1)
    running = []
    peak = []
    gate = threading.Event()
    lock = threading.Lock()

    def factory():
        with lock:
            running.append(1)
            peak.append(len(running))
        gate.wait(timeout=30)
        with lock:
            running.pop()
        return spark.range(1)

    ids = [searcher.start(f"q{i}", factory) for i in range(3)]
    _t.sleep(1.0)  # give queued threads a chance to (wrongly) start
    with lock:
        assert max(peak) == 1  # only one slot executes
    # cancel a queued job: it must never run
    statuses = {j: searcher.status(j)["status"] for j in ids}
    assert all(s == "running" for s in statuses.values())
    queued = ids[-1]
    searcher.cancel(queued)
    gate.set()
    for j in ids[:-1]:
        searcher.wait(j, timeout=120)
        assert searcher.status(j)["status"] == "done"
    searcher.wait(queued, timeout=120)
    assert searcher.status(queued)["status"] == "canceled"
    assert max(peak) == 1  # the cap held for the whole drain


def _bloom_offsets(spark, file_path):
    """Per-column bloom-filter offsets of the first row group (-1 = none),
    read from the parquet footer via parquet-mr (pyarrow doesn't expose
    bloom metadata)."""
    jvm = spark._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hif = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(file_path), conf)
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(hif)
    try:
        rg = reader.getFooter().getBlocks().get(0)
        return {
            rg.getColumns().get(i).getPath().toDotString():
                rg.getColumns().get(i).getBloomFilterOffset()
            for i in range(rg.getColumns().size())
        }
    finally:
        reader.close()


def _parquet_files(path):
    return [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]


def test_append_and_compact_write_rid_bloom_filters(spark, tmp):
    """The doc id (rid) is hash-synthesized, so row-group min/max stats
    never prune a fetch-by-id — every file in the time window would be
    read. The store writes a parquet BLOOM FILTER on rid (and pins the
    choice in the store meta), giving Eq/In fetches a definitive
    per-row-group skip; compaction — even from a differently-constructed
    instance — must preserve it, or sealing would silently strip the
    skipping from exactly the old, large buckets where it matters."""
    frame = ingest_docs(
        spark.createDataFrame([(json.dumps(d),) for d in DOCS], "raw string"),
        MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    store = DocStore(spark, os.path.join(tmp, "bloom_store"))
    store.append(frame)
    files = _parquet_files(store.path)
    assert files
    for f in files:
        offs = _bloom_offsets(spark, f)
        assert offs["rid"] >= 0, f
        assert offs["raw"] == -1, f  # only the pinned columns pay the bytes
    # a fetch THROUGH the bloom returns exact results
    some = [r.rid for r in store.read().select("rid").limit(3).collect()]
    got = store.read().filter(F.col("rid").isin(some)).count()
    assert got == len(set(some))
    # meta wins over the instance: a maintenance-only opener constructed
    # with bloom_cols=() still seals bloom-carrying files
    store2 = DocStore(spark, store.path, bloom_cols=())
    bucket = store2.partitions()[0]
    store2.compact(bucket, target_files=1)
    sealed = _parquet_files(
        os.path.join(store.path, f"ts_bucket={bucket}"))
    assert sealed
    for f in sealed:
        assert _bloom_offsets(spark, f)["rid"] >= 0, f


def test_bloom_filter_skips_row_groups_on_id_fetch(spark, tmp):
    """The point of the rid bloom: an id fetch reads only the row groups
    that may contain the ids, not every row group in the store. Pinned on
    the scan's numOutputRows metric with a small block size forcing many
    row groups."""
    rows = [
        (json.dumps({"timestamp": f"2024-01-01 10:{m:02d}:{s:02d}.000",
                     "service": "auth", "message": f"m{m}{s}"}),)
        for m in range(60) for s in range(0, 60, 2)
    ]
    frame = ingest_docs(
        spark.createDataFrame(rows, "raw string"),
        MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
    ).coalesce(1)
    path = os.path.join(tmp, "bloom_skip_store")
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    old_block = hconf.get("parquet.block.size")
    hconf.set("parquet.block.size", str(16 * 1024))
    try:
        DocStore(spark, path).append(frame)
    finally:
        if old_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", old_block)
    store = DocStore(spark, path)
    total = store.read().count()
    one = store.read().select("rid").first().rid

    q = store.read().filter(F.col("rid") == one)
    assert q.count() == 1
    q.collect()
    jplan = q._jdf.queryExecution().executedPlan()

    def leaf_rows(node):
        if node.children().isEmpty():
            m = node.metrics()
            if m.contains("numOutputRows"):
                return m.apply("numOutputRows").value()
            return None
        it = node.children().iterator()
        while it.hasNext():
            got = leaf_rows(it.next())
            if got is not None:
                return got
        return None

    scanned = leaf_rows(jplan)
    # many small row groups were written; the bloom must skip all but the
    # one(s) containing the id — strictly less than half the store is the
    # conservative bound (without the bloom the scan reads every row:
    # rid min/max spans every group)
    assert scanned is not None and scanned < total / 2, (scanned, total)


def test_append_rejects_mismatched_bloom_cols(spark, tmp):
    """Same discipline as the ts_col pin: an appender constructed with
    different bloom_cols than the store was pinned with must be rejected,
    not silently overridden — the caller would otherwise believe fetches
    on its columns skip row groups when they never will."""
    frame = ingest_docs(
        spark.createDataFrame([(json.dumps(DOCS[0]),)], "raw string"),
        MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    store = DocStore(spark, os.path.join(tmp, "bloom_pin_store"))
    store.append(frame)
    with pytest.raises(ValueError, match="bloom_cols"):
        DocStore(spark, store.path, bloom_cols=("rid", "mid")).append(frame)
    # the pinned-value writer still appends fine
    DocStore(spark, store.path).append(frame)


def test_bloom_at_seal_defers_blooms_to_compaction(spark, tmp):
    """bloom_at='seal': appends pay no bloom tax (fresh small files are
    cheap to scan anyway), sealing writes them — the reference's own
    active-fraction-unindexed / seal-then-index shape. Mixed files are
    legal: the reader probes blooms per file."""
    frame = ingest_docs(
        spark.createDataFrame([(json.dumps(d),) for d in DOCS], "raw string"),
        MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    store = DocStore(spark, os.path.join(tmp, "seal_bloom_store"),
                     bloom_at="seal")
    store.append(frame)
    appended = _parquet_files(store.path)
    assert appended
    for f in appended:
        assert _bloom_offsets(spark, f)["rid"] == -1, f
    bucket = store.partitions()[0]
    store.compact(bucket, target_files=1)
    sealed = _parquet_files(
        os.path.join(store.path, f"ts_bucket={bucket}"))
    for f in sealed:
        assert _bloom_offsets(spark, f)["rid"] >= 0, f
    # data intact either way
    assert store.read().count() == len(DOCS)
    with pytest.raises(ValueError, match="bloom_at"):
        DocStore(spark, os.path.join(tmp, "x"), bloom_at="never")


def test_sessionize_native_streaming_matches_stateful_semantics(spark, tmp):
    """The built-in session_window variant under a real stream: sessions
    emit (append mode) once the watermark passes, with the SAME output
    contract as the applyInPandasWithState operator — session_end_ms is
    the last event's time, not last+gap."""
    from seqspark.streaming import sessionize_native

    indir = os.path.join(tmp, "sessnat_in")
    ckpt = os.path.join(tmp, "sessnat_ckpt")
    emitted = []

    def run_once():
        raw = (
            spark.readStream.schema("ts string, svc string")
            .json(indir)
            .withColumn("ts", F.to_timestamp("ts"))
        )
        sess = sessionize_native(raw, "svc", gap_ms=60_000, watermark="0 seconds")
        q = (
            sess.writeStream.foreachBatch(
                lambda df, _id: emitted.extend(df.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_ndjson(os.path.join(indir, "b1.json"), [
        {"ts": "2024-01-01 10:00:00", "svc": "auth"},
        {"ts": "2024-01-01 10:00:10", "svc": "auth"},
        {"ts": "2024-01-01 10:00:05", "svc": "pay"},
    ])
    run_once()
    write_ndjson(os.path.join(indir, "b2.json"),
                 [{"ts": "2024-01-01 12:00:00", "svc": "auth"}])
    run_once()
    write_ndjson(os.path.join(indir, "b3.json"),
                 [{"ts": "2024-01-01 14:00:00", "svc": "pay"}])
    run_once()

    def ms(s):
        import datetime as dt

        return int(dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
                   .replace(tzinfo=dt.timezone.utc).timestamp() * 1000)

    rows = {
        (r["svc"], r["n_events"]): (r["session_start_ms"], r["session_end_ms"])
        for r in emitted
    }
    assert rows[("auth", 2)] == (ms("2024-01-01 10:00:00"), ms("2024-01-01 10:00:10"))
    assert rows[("pay", 1)] == (ms("2024-01-01 10:00:05"), ms("2024-01-01 10:00:05"))


def test_sessionize_native_batch_equals_stateful_outputs(spark):
    """Batch parity: on a static frame the built-in variant produces the
    same session set as the pipeline's batch sessionizer."""
    from seqspark.pipeline.sessions import session_stats
    from seqspark.streaming import sessionize_native

    rows = [
        (u, f"2024-01-01 10:{m:02d}:{s_:02d}")
        for u in ("a", "b")
        for m, s_ in ((0, 0), (0, 30), (2, 0), (10, 0), (10, 5))
    ]
    df = spark.createDataFrame(rows, "user string, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    got = sorted(
        (r["user"], r["session_start_ms"], r["session_end_ms"], r["n_events"])
        for r in sessionize_native(df, "user", gap_ms=120_000).collect()
    )
    want = sorted(
        (r["user"], r["start_ms"], r["end_ms"], r["n_events"])
        for r in session_stats(df, "user", "ts", gap_ms=120_000).select(
            "user", "start_ms", "end_ms", "n_events"
        ).collect()
    )
    assert got == want and len(got) > 0
