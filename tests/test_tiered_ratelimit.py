"""Long-term (hot/cold) tiered store and request rate limiting, mirroring
`docs/en/07-long-term-store.md` and `docs/en/08-rate-limiting.md` /
`network/ratelimiter/ratelimiter.go`."""

import json
import os

import pytest
from pyspark.sql import functions as F

from seqspark import Mapping, SearchTable
from seqspark.ingest import ingest_docs
from seqspark.ratelimit import RateLimiter, fetch_key, search_key
from seqspark.store import DocStore, TieredStore

MAPPING = Mapping({"service": "keyword", "message": "text"})
BIG = 10**15

DOCS = [
    {"timestamp": f"2024-01-0{d} 00:00:00.000", "service": s, "message": f"m {d}"}
    for d in (1, 2, 3, 4)
    for s in ("auth", "pay")
]


def ingest_frame(spark, docs=DOCS):
    return ingest_docs(
        spark.createDataFrame([(json.dumps(d),) for d in docs], "raw string"),
        MAPPING,
        allowed_drift_ms=BIG,
        future_drift_ms=BIG,
    )


@pytest.fixture()
def tiered(spark, tmp_path):
    hot = DocStore(spark, os.path.join(str(tmp_path), "hot"), bucket_fmt="yyyy-MM-dd")
    cold = DocStore(spark, os.path.join(str(tmp_path), "cold"), bucket_fmt="yyyy-MM-dd")
    return TieredStore(hot, cold)


# ------------------------------------------------------------- tiered store


def test_dual_write_then_exact_read(spark, tiered):
    tiered.append(ingest_frame(spark))
    # both tiers hold everything (07-long-term-store.md §Write)
    assert tiered.hot.read().count() == len(DOCS)
    assert tiered.cold.read().count() == len(DOCS)
    # the union must not double-count the dual-written rows
    assert tiered.read().count() == len(DOCS)


def test_rotated_hot_falls_through_to_cold(spark, tiered):
    tiered.append(ingest_frame(spark))
    # rotate the two oldest days out of the hot tier
    tiered.maintain(hot_min_bucket="2024-01-03")
    assert tiered.hot.partitions() == ["2024-01-03", "2024-01-04"]
    # full history still served, exactly once, via the cold tier
    st = SearchTable.from_docs(tiered.read(), MAPPING)
    assert st.search("*").count() == len(DOCS)
    assert st.search("service:auth").count() == len(DOCS) // 2
    day1 = st.search("*", from_ms=1704067200000, to_ms=1704067200000)
    assert day1.count() == 2  # 2024-01-01 docs come from cold only
    assert tiered.partitions() == [
        "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04",
    ]


def test_recent_query_prunes_cold_partitions(spark, tiered):
    tiered.append(ingest_frame(spark))
    tiered.maintain(hot_min_bucket="2024-01-03")
    # a query inside the hot window scans no cold files: the cold branch
    # carries a partition filter `< oldest_hot`, so combined with the
    # query's `>= 2024-01-03` its directory listing prunes to nothing
    df = tiered.read().filter(F.col("ts_bucket") >= "2024-01-03")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-03" in plan
    assert df.count() == 4  # days 3+4, both services — all from hot


def test_empty_hot_reads_cold(spark, tiered):
    tiered.cold.append(ingest_frame(spark))
    assert tiered.read().count() == len(DOCS)


def test_mismatched_bucket_fmt_rejected(spark, tmp_path):
    hot = DocStore(spark, os.path.join(str(tmp_path), "h"), bucket_fmt="yyyy-MM-dd")
    cold = DocStore(spark, os.path.join(str(tmp_path), "c"), bucket_fmt="yyyy-MM-dd-HH")
    with pytest.raises(ValueError):
        TieredStore(hot, cold)


# --------------------------------------------------- original_timestamp


def test_clamped_doc_keeps_original_timestamp(spark):
    ingest_ts = F.to_timestamp(F.lit("2024-01-10 00:00:00"))
    docs = [
        {"timestamp": "2024-01-01 00:00:00.000", "service": "a"},  # 9d old → clamped
        {"timestamp": "2024-01-09 12:00:00.000", "service": "b"},  # fresh → kept
    ]
    frame = ingest_docs(
        spark.createDataFrame([(json.dumps(d),) for d in docs], "raw string"),
        MAPPING,
        ingest_ts=ingest_ts,
    )
    rows = {r["tokens"]["service"][0]: r for r in frame.collect()}
    # clamped doc: ts rewritten to ingest time, original kept + indexed
    # (07-long-term-store.md §"Avoid old docs in hot store")
    assert rows["a"]["ts"].strftime("%Y-%m-%d") == "2024-01-10"
    assert rows["a"]["tokens"]["original_timestamp"] == ["2024-01-01t00:00:00.000z"]
    assert "original_timestamp" not in rows["b"]["tokens"]
    st = SearchTable.from_docs(frame, MAPPING)
    assert st.search("_exists_:original_timestamp").count() == 1


# ------------------------------------------------------------ rate limiter


def make_clock(start=0.0):
    state = {"t": start}

    def advance(dt):
        state["t"] += dt

    return (lambda: state["t"]), advance


def test_rate_limiter_burst_then_refuse():
    clock, _ = make_clock()
    rl = RateLimiter(2.0, clock=clock)
    # burst allowance ≈ limit_per_sec requests + 1 (counter crosses the
    # limit*10 threshold after it): 3 pass at limit 2.0, the 4th refuses
    assert [rl.account("q") for _ in range(4)] == [True, True, True, False]


def test_rate_limiter_drains_over_time():
    clock, advance = make_clock()
    rl = RateLimiter(2.0, clock=clock)
    while rl.account("q"):
        pass
    advance(0.6)  # drains 2.0*10*0.6 = 12 > one request's cost
    assert rl.account("q")
    advance(10.0)  # full drain → key forgotten
    assert rl.active_keys() == 0


def test_rate_limiter_keys_independent():
    clock, _ = make_clock()
    rl = RateLimiter(0.1, clock=clock)
    assert rl.account("a")
    assert not rl.account("a")  # same query shape throttled
    assert rl.account("b")  # different query unaffected


def test_search_key_includes_aggs_and_interval():
    base = search_key("level:error")
    with_agg = search_key(
        "level:error", aggs=[{"func": "sum", "field": "f", "group_by": "g"}]
    )
    with_hist = search_key("level:error", hist_interval=5000)
    assert len({base, with_agg, with_hist}) == 3
    # dicts and objects key identically (HTTP vs programmatic callers)
    class A:
        func, field, group_by = "sum", "f", "g"

    assert with_agg == search_key("level:error", aggs=[A()])
    assert fetch_key(["1-2", "3-4"]) == "1-2,3-4"


def test_server_rate_limits_repeated_query(spark, tmp_path):
    from seqspark.server import SeqSparkServer
    import urllib.request

    store = DocStore(spark, os.path.join(str(tmp_path), "store"))
    store.append(ingest_frame(spark))
    srv = SeqSparkServer(
        spark, store, MAPPING, query_rate_limit=0.1
    ).start()
    try:
        def post(path, obj):
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}{path}",
                data=json.dumps(obj).encode(),
                headers={"Content-Type": "application/json"},
            )
            try:
                with urllib.request.urlopen(req) as r:
                    return r.status
            except urllib.error.HTTPError as e:
                return e.code

        assert post("/search", {"query": "service:auth"}) == 200
        # identical query shape → throttled (08-rate-limiting.md)
        assert post("/search", {"query": "service:auth"}) == 429
        # different query string → its own bucket
        assert post("/search", {"query": "service:pay"}) == 200
        # fetch keyed by id list
        assert post("/fetch", {"ids": [[1, 2]]}) == 200
        assert post("/fetch", {"ids": [[1, 2]]}) == 429
        assert post("/fetch", {"ids": [[3, 4]]}) == 200
    finally:
        srv.stop()


def test_rotation_tombstones_keep_cold_ownership(spark, tmp_path):
    """A shipper writing an OLD timestamp after hot rotation re-creates
    the bucket in hot with only the new rows; cold's dual-written copy
    has everything. The rotation tombstone keeps ownership with cold —
    without it the pre-rotation rows silently vanish from reads (found
    by the tiered burn-in)."""
    import json as _json

    from seqspark.ingest import ingest_docs

    hot = DocStore(spark, str(tmp_path / "t_hot"))
    cold = DocStore(spark, str(tmp_path / "t_cold"))
    store = TieredStore(hot, cold)

    def frame(hour, tag, n=5):
        rows = [
            (_json.dumps({"timestamp": f"2024-01-01 {hour:02d}:00:{i:02d}.000",
                          "service": "s", "message": f"{tag} {i}"}),)
            for i in range(n)
        ]
        return ingest_docs(
            spark.createDataFrame(rows, "raw string"),
            MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
        )

    for h in (10, 11, 12):
        store.append(frame(h, f"pre{h}"))
    assert store.read().count() == 15
    # rotate bucket 10 out of hot (recorded as a tombstone)
    dropped = store.maintain(hot_min_bucket="2024-01-01-11")["hot_dropped"]
    assert dropped == ["2024-01-01-10"]
    assert store.read().count() == 15  # cold serves the rotated bucket
    # late/cycling write to the ROTATED hour re-creates a partial hot copy
    store.append(frame(10, "post10"))
    assert store.read().count() == 20  # pre-rotation rows still visible
    # tombstones survive a restart (persisted at the hot tier)
    store2 = TieredStore(DocStore(spark, str(tmp_path / "t_hot")),
                         DocStore(spark, str(tmp_path / "t_cold")))
    assert store2.read().count() == 20


def test_cold_tier_down_serves_partial_response(spark, tmp_path, monkeypatch):
    """A dark cold tier must not fail queries against the healthy hot
    window: reads degrade to hot-only and every transport marks the
    response PARTIAL_RESPONSE (`seq_proxy_api.proto` ErrorCode 2,
    `grpc_complex_search.go:54`)."""
    from seqspark.server import SeqSparkServer

    hot = DocStore(spark, str(tmp_path / "hot"))
    cold = DocStore(spark, str(tmp_path / "cold"))
    tiered = TieredStore(hot, cold)
    tiered.append(ingest_frame(spark))
    n = len(DOCS)
    assert tiered.snapshot().partial is False  # healthy: not partial

    def dark(*a, **k):
        raise IOError("cold storage unreachable")

    monkeypatch.setattr(cold, "snapshot", dark)  # the partial probe
    monkeypatch.setattr(cold, "partitions", dark)
    monkeypatch.setattr(cold, "read", dark)

    snap = tiered.snapshot()
    assert snap.partial is True
    assert snap.read().count() == n  # hot holds everything (no rotation yet)
    assert tiered.partitions()  # admission path tolerates the dark tier

    srv = SeqSparkServer(spark, tiered, MAPPING,
                         allowed_drift_ms=BIG, future_drift_ms=BIG)
    out = srv.search({"query": "*", "with_total": True})
    assert out["partial_response"] is True
    assert out["total"] == n
    cx = srv.complex({"query": "*", "size": 2, "with_total": True})
    assert cx["partial_response"] is True

    # gRPC: the bool AND Error{PARTIAL_RESPONSE} ride the wire
    from seqspark.grpcapi import SeqProxyGrpc
    from seqspark.wire import seqproxy as sp
    from seqspark.wire.grpc import GrpcChannel

    g = SeqProxyGrpc(srv).start()
    ch = GrpcChannel("127.0.0.1", g.port)
    try:
        resp = ch.unary(
            "/seqproxyapi.v1.SeqProxyApi/Search",
            {"query": {"query": "*", "from": sp.ms_to_ts(0),
                       "to": sp.ms_to_ts(4102444800000)},
             "size": 10, "with_total": True},
            sp.SEARCH_REQUEST, sp.SEARCH_RESPONSE,
        )
        assert resp["partial_response"] is True
        assert resp["error"]["code"] == sp.ERROR_CODE_PARTIAL_RESPONSE
        assert len(resp["docs"]) == n
    finally:
        ch.close()
        g.stop()

    # a HEALTHY tiered store never carries the flag
    monkeypatch.undo()
    assert "partial_response" not in srv.search({"query": "*"})


def test_cold_tier_down_fails_export_loudly(spark, tmp_path, monkeypatch):
    """Search degrades to partial; an EXPORT is a completeness contract —
    with the cold tier dark it must raise (HTTP: a 400 before the stream
    starts), never stream hot-only rows under a complete-looking
    sentinel."""
    from seqspark.server import SeqSparkServer

    hot = DocStore(spark, str(tmp_path / "hot2"))
    cold = DocStore(spark, str(tmp_path / "cold2"))
    tiered = TieredStore(hot, cold)
    tiered.append(ingest_frame(spark))

    def dark(*a, **k):
        raise IOError("cold storage unreachable")

    monkeypatch.setattr(cold, "snapshot", dark)  # the partial probe
    monkeypatch.setattr(cold, "partitions", dark)
    monkeypatch.setattr(cold, "read", dark)
    srv = SeqSparkServer(spark, tiered, MAPPING,
                         allowed_drift_ms=BIG, future_drift_ms=BIG)
    with pytest.raises(RuntimeError, match="cold tier unreachable"):
        srv.export_docs({"query": "*"})
    # fetch still answers, marked partial
    out = srv.fetch({"ids": [[1, 1]]})
    assert out["partial_response"] is True
