"""r16 (verdict #2): width-aware two-phase routing — SearchTable.search
picks the posting-page search→fetch plan (two_phase_search) over the
column scan when the index is attached with a width threshold, the query
is fully index-covered and bounded, and the average stored doc width
(parquet footers, zero jobs) clears the threshold. The reference's wire
architecture IS search→fetch (`proxy/search/ingestor.go:140-151`), so
the router must be reachable from every transport: engine, HTTP, gRPC.

Every precondition failure must fall back to the scan plan silently —
the router may only ever pick a plan, never change results or errors.
"""

import hashlib
import time
import json

import pytest
from pyspark.sql import functions as F

from seqspark import Mapping, SearchTable
from seqspark.engine import materialize_tokens
from seqspark.index import StoreIndex, build_inverted_index, collect_index_stats

BIG = 10**15


def _wide_table(spark, tmp_path, n=120):
    """Parquet-backed wide-doc table: ~1.5 KB incompressible body per row
    so the footer width probe sees a genuinely wide corpus."""
    rows = []
    for i in range(n):
        body = " ".join(
            hashlib.sha256(f"{i}:{j}".encode()).hexdigest() for j in range(24)
        )
        word = "alpha" if i % 12 == 0 else "beta"  # df 10/120 <= max_sel
        rows.append((1_700_000_000_000 + i * 1000, i, f"{word} {body}",
                     "even" if i % 2 == 0 else "odd"))
    spark.createDataFrame(
        rows, "mid long, rid long, text string, kind string"
    ).withColumn("ts", F.timestamp_millis(F.col("mid"))).write.parquet(
        str(tmp_path / "wide"))
    df = spark.read.parquet(str(tmp_path / "wide"))
    tok = materialize_tokens(df, {"text": "text"})
    idx = build_inverted_index(
        tok, {"text": "__tok_text", "kind": F.array(F.col("kind"))},
        id_cols=["mid", "rid"])
    stats = collect_index_stats(idx, total_docs=n)
    m = {"text": "text", "kind": "keyword"}
    return df, idx, stats, m


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_router_fires_and_matches_scan(spark, tmp_path):
    df, idx, stats, m = _wide_table(spark, tmp_path)

    def table(**kw):
        return SearchTable.from_typed(
            df, m, ts_col="ts", rid_col="rid", assume_folded=True,
        ).attach_index(idx, ["text", "kind"], ["mid", "rid"],
                       stats=stats, **kw)

    st_scan = table()                                  # routing off
    st = table(two_phase_min_doc_bytes=64)
    w = st.avg_doc_bytes()
    assert w is not None and w > 64  # the fixture really is wide
    out = st.search("text:alpha", size=10, offset=2, order="desc")
    want = [tuple(r) for r in st_scan.search(
        "text:alpha", size=10, offset=2, order="desc"
    ).select("mid", "rid").collect()]
    got = [tuple(r) for r in out.select("mid", "rid").collect()]
    assert got == want
    # the routed plan is the two-phase fetch: pushed per-value In on rid
    plan = _plan(out)
    i = plan.find("PushedFilters")
    assert i >= 0 and "In(rid" in plan[i:i + 300], plan[i:i + 300]
    assert "LeftSemi" not in plan  # not the in-plan semi-join route


def test_router_falls_back_silently(spark, tmp_path):
    df, idx, stats, m = _wide_table(spark, tmp_path)
    st = SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True,
    ).attach_index(idx, ["text", "kind"], ["mid", "rid"], stats=stats,
                   two_phase_min_doc_bytes=64)
    st_scan = SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True)

    def assert_scan(df_out):
        plan = _plan(df_out)
        i = plan.find("PushedFilters")
        assert "In(rid" not in (plan[i:i + 300] if i >= 0 else ""), plan

    # unbounded (export mode): no page to fetch
    assert_scan(st.search("text:alpha"))
    # residual conjunct: router requires full cover (refill is the
    # explicit two_phase_search API, not the silent default)
    assert_scan(st.search("text:alpha and not text:beta", size=5))
    # match-all: no covered conjunct
    assert_scan(st.search("*", size=5))
    # caller-supplied dedup override
    assert_scan(st.search("text:alpha", size=5, dedup_cols=["kind"]))
    # width below threshold
    st_narrow = SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True,
    ).attach_index(idx, ["text", "kind"], ["mid", "rid"], stats=stats,
                   two_phase_min_doc_bytes=10**9)
    assert_scan(st_narrow.search("text:alpha", size=5))
    # no selective conjunct: every conjunct hotter than max_selectivity
    st_hot = SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True,
    ).attach_index(idx, ["text", "kind"], ["mid", "rid"], stats=stats,
                   max_selectivity=0.001, two_phase_min_doc_bytes=64)
    assert_scan(st_hot.search("text:beta", size=5))
    # non-file-backed frame: width unknown -> never routes
    st_mem = SearchTable.from_typed(
        df.limit(50).cache(), m, ts_col="ts", rid_col="rid",
        assume_folded=True,
    ).attach_index(idx, ["text", "kind"], ["mid", "rid"], stats=stats,
                   two_phase_min_doc_bytes=1)
    res = st_mem.search("text:alpha", size=5)
    assert res.count() >= 0  # must not raise
    # results stay right on every fallback
    assert (st.search("text:alpha and not text:beta", size=5).count()
            == st_scan.search("text:alpha and not text:beta", size=5).count())


def _semi_join(df) -> bool:
    plan = _plan(df)
    return "LeftSemi" in plan or "BroadcastExchange" in plan


def test_narrow_table_scans_without_semi_join(spark, tmp_path):
    """The width rule: on a table narrower than two_phase_min_doc_bytes
    no index route runs. Every request is the plain column scan with the
    full predicate (no LeftSemi, no broadcast id side), and its rows are
    the index-less table's, bounded, unbounded and counted."""
    df, idx, stats, m = _wide_table(spark, tmp_path)
    st_scan = SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True)
    st = st_scan.attach_index(idx, ["text", "kind"], ["mid", "rid"],
                              stats=stats, two_phase_min_doc_bytes=10**9)
    assert st.avg_doc_bytes() < 10**9
    for q in ("text:alpha", "text:alph*", "text:alpha and not text:beta",
              "text:alpha and kind:even"):
        for kw in ({"size": 5, "offset": 2}, {"size": None}):
            got = st.search(q, **kw)
            assert not _semi_join(got), (q, kw, _plan(got))
            want = st_scan.search(q, **kw)
            assert got.collect() == want.collect(), (q, kw)
        res = st.complex_search(q, size=5, with_total=True)
        plain = st_scan.complex_search(q, size=5, with_total=True)
        assert res.route == "scan"
        assert (res.docs, res.total_count) == (plain.docs, plain.total_count)


def test_wide_or_unknown_width_keeps_routing(spark, tmp_path):
    """Above the threshold, with no threshold, or when the width cannot
    be read, routing is what it was before the width rule: two-phase for
    bounded fully covered searches on a wide table, the semi-join for
    every other selective request."""
    df, idx, stats, m = _wide_table(spark, tmp_path)

    def table(frame, **kw):
        return SearchTable.from_typed(
            frame, m, ts_col="ts", rid_col="rid", assume_folded=True,
        ).attach_index(idx, ["text", "kind"], ["mid", "rid"],
                       stats=stats, **kw)

    wide = table(df, two_phase_min_doc_bytes=64)
    assert wide.complex_search("text:alpha", size=5).route == "two_phase"
    assert _semi_join(wide.search("text:alpha and not text:beta", size=5))
    assert _semi_join(wide.search("text:alpha"))  # unbounded
    assert _semi_join(table(df).search("text:alpha", size=5))
    unknown = table(df.limit(50).cache(), two_phase_min_doc_bytes=10**9)
    assert unknown.avg_doc_bytes() is None
    assert _semi_join(unknown.search("text:alpha", size=5))


def test_transports_reach_two_phase(spark, tmp_path, monkeypatch):
    """HTTP and gRPC search must hit the two-phase plan on a wide corpus
    — and return exactly what an index-less server returns."""
    from seqspark.grpcapi import SeqProxyGrpc
    from seqspark.server import SeqSparkServer
    from seqspark.store import DocStore
    from seqspark.wire import seqproxy as sp
    from seqspark.wire.grpc import GrpcChannel

    mapping = Mapping({"service": "keyword", "message": "text"})
    store = DocStore(spark, str(tmp_path / "store"))
    lines = []
    for i in range(40):
        body = " ".join(
            hashlib.sha256(f"d{i}:{j}".encode()).hexdigest()
            for j in range(24))
        svc = "auth" if i % 8 == 0 else "pay"
        lines.append('{"index": {}}')
        lines.append(json.dumps({
            "timestamp": f"2024-01-01 10:00:{i:02d}.000",
            "service": svc, "message": f"login{i % 10} {body}"}))
    payload = "\n".join(lines).encode()

    core_plain = SeqSparkServer(
        spark, store, mapping, allowed_drift_ms=BIG, future_drift_ms=BIG)
    core_plain.bulk(payload, gzipped=False)

    sidx = StoreIndex(store, str(tmp_path / "index"),
                      {"message": F.col("tokens")["message"]})
    sidx.refresh()
    core = SeqSparkServer(
        spark, store, mapping, allowed_drift_ms=BIG, future_drift_ms=BIG,
        index=sidx, two_phase_min_doc_bytes=64)

    calls = []
    orig = SearchTable.two_phase_search

    def spy(self, *a, **k):
        calls.append((a, k))
        return orig(self, *a, **k)

    monkeypatch.setattr(SearchTable, "two_phase_search", spy)

    req = {"query": "message:login1", "size": 10}
    http = core.search(dict(req))
    assert calls, "HTTP search never reached two_phase_search"
    # observability: the route is counted (debug-server /metrics)
    assert core._counters["two_phase_searches_total"] == 1
    plain = core_plain.search(dict(req))
    assert core_plain._counters["two_phase_searches_total"] == 0
    assert http["docs"] == plain["docs"] and len(http["docs"]) == 4

    calls.clear()
    srv = SeqProxyGrpc(core).start()
    ch = GrpcChannel("127.0.0.1", srv.port)
    try:
        resp = ch.unary(
            "/seqproxyapi.v1.SeqProxyApi/Search",
            {"query": {"query": "message:login1",
                       "from": sp.ms_to_ts(0),
                       "to": sp.ms_to_ts(4102444800000)},
             "size": 10},
            sp.SEARCH_REQUEST, sp.SEARCH_RESPONSE,
        )
    finally:
        ch.close()
        srv.stop()
    assert calls, "gRPC search never reached two_phase_search"
    assert [json.loads(d["data"])["service"] for d in resp["docs"]] == [
        json.loads(d["data"])["service"] for d in plain["docs"]]

    # a query the router can't serve still works through the same server
    calls.clear()
    before = core._counters["two_phase_searches_total"]
    resid = core.search({"query": "message:login1 and not message:login2",
                         "size": 10})
    assert calls == [] and len(resid["docs"]) == 4
    assert core._counters["two_phase_searches_total"] == before

    # r16: keyset deep-paging routes too — cursor pages through the
    # routed table must equal the index-less table's pages exactly
    st_routed = core._table()
    st_plain = core_plain._table()
    calls.clear()
    cursor = None
    walked = 0
    while True:
        kw = {} if cursor is None else {
            "last_ts_ms": cursor[0], "last_rid": cursor[1]}
        want = [(r["mid"], r["rid"]) for r in st_plain.search_after(
            "message:login1", size=3, order="asc", **kw
        ).select("mid", "rid").collect()]
        n_calls = len(calls)
        got = [(r["mid"], r["rid"]) for r in st_routed.search_after(
            "message:login1", size=3, order="asc", **kw
        ).select("mid", "rid").collect()]
        assert got == want, cursor
        if cursor is not None:
            assert len(calls) == n_calls + 1  # this page routed
        walked += len(got)
        if not want:
            break
        cursor = want[-1]
    assert walked == 4 and calls, "cursor pages never routed"


def _spy(monkeypatch, owner, name, calls):
    """Wrap ``owner.name`` so every call appends to ``calls``."""
    real = getattr(owner, name)

    def counted(*a, **k):
        calls.append(name)
        return real(*a, **k)

    monkeypatch.setattr(owner, name, counted)


def _count_parses(monkeypatch):
    """Count seq-ql and legacy parses (``seqspark.engine.parse*``)."""
    from seqspark import engine

    calls = []
    for name in ("parse", "parse_legacy"):
        _spy(monkeypatch, engine, name, calls)
    return calls


def _routed_wide_table(spark, tmp_path):
    df, idx, stats, m = _wide_table(spark, tmp_path)
    return SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True,
    ).attach_index(idx, ["text", "kind"], ["mid", "rid"], stats=stats,
                   two_phase_min_doc_bytes=64)


def test_uncached_entry_points_parse_once(spark, tmp_path, monkeypatch):
    """explain(), explain_tree() and a routed search_after() parse their
    query once: the router, the two-phase build and the filter share
    the parsed Query."""
    st = _routed_wide_table(spark, tmp_path)
    routed = []
    _spy(monkeypatch, SearchTable, "two_phase_search", routed)
    parses = _count_parses(monkeypatch)
    for call in (
        lambda: st.explain("text:alpha"),
        lambda: st.explain_tree("text:alpha"),
        lambda: st.search_after("text:alpha", last_ts_ms=1_700_000_100_000,
                                last_rid=100, size=3),
    ):
        parses.clear()
        call()
        assert len(parses) == 1
    assert len(routed) == 1  # the search_after page was served two-phase


def test_concurrent_requests_carry_their_own_route(spark, tmp_path):
    """Two threads run requests of different routes on one shared table;
    each result carries the route of its own request."""
    import threading

    st = _routed_wide_table(spark, tmp_path)
    queries = {"two_phase": "text:alpha",
               "scan": "text:alpha and not text:beta"}
    barrier = threading.Barrier(len(queries))
    seen = {want: [] for want in queries}
    errors = []

    def run(want, q):
        try:
            barrier.wait(timeout=60)
            for size in (3, 4, 5):
                seen[want].append(st.complex_search(q, size=size).route)
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=run, args=kv)
               for kv in queries.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    assert errors == []
    assert seen == {want: [want] * 3 for want in queries}


def _indexed_server(spark, tmp_path, wide=True):
    """A server over a store with an attached StoreIndex on ``message``:
    40 wide docs (~1.5 KB bodies) with two-phase routing from 64 bytes,
    or 400 narrow ones (enough that the parquet footers and blooms do
    not make the files wide) under the server's default width rule."""
    from seqspark.server import SeqSparkServer
    from seqspark.store import DocStore

    mapping = Mapping({"service": "keyword", "message": "text"})
    store = DocStore(spark, str(tmp_path / "store"))
    lines = []
    for i in range(40 if wide else 400):
        body = " ".join(
            hashlib.sha256(f"d{i}:{j}".encode()).hexdigest()
            for j in range(24 if wide else 0))
        lines.append('{"index": {}}')
        lines.append(json.dumps({
            "timestamp": f"2024-01-01 10:{i // 60:02d}:{i % 60:02d}.000",
            "service": "auth" if i % 8 == 0 else "pay",
            "message": f"login{i % 10} {body}"}))
    seed = SeqSparkServer(spark, store, mapping, allowed_drift_ms=BIG,
                          future_drift_ms=BIG)
    seed.bulk("\n".join(lines).encode(), gzipped=False)
    seed._httpd.server_close()
    sidx = StoreIndex(store, str(tmp_path / "index"),
                      {"message": F.col("tokens")["message"]})
    sidx.refresh()
    return SeqSparkServer(
        spark, store, mapping, allowed_drift_ms=BIG, future_drift_ms=BIG,
        index=sidx, async_dir=str(tmp_path / "async"),
        **({"two_phase_min_doc_bytes": 64} if wide else {}))


@pytest.mark.parametrize("query,routed", [
    ("service:auth", 0),      # no index-covered conjunct: the scan
    ("message:login1", 1),    # fully covered on a wide store: two-phase
])
def test_indexed_server_search_is_one_cached_construction(
        spark, tmp_path, monkeypatch, query, routed):
    """On an indexed server a /search with with_total parses its query
    once on a miss; the same body again parses nothing, builds no new
    Dataset and collects only frames held in the table's plan cache
    (for a two-phase body, no phase-1 id page either)."""
    from test_table_memo import _held_frames, _spy_frames

    core = _indexed_server(spark, tmp_path)
    body = {"query": query, "size": 10, "with_total": True}
    parses = _count_parses(monkeypatch)
    first = core.search(dict(body))
    assert len(parses) == 1
    assert core._counters["two_phase_searches_total"] == routed
    assert first["total"] == len(first["docs"]) > 0
    parses.clear()
    collected, selected = _spy_frames(monkeypatch)
    second = core.search(dict(body))
    assert second == first
    assert parses == [] and selected == []
    held = _held_frames(core._table())
    assert collected and all(
        any(df is h for h in held) for df in collected), collected
    assert core._counters["two_phase_searches_total"] == 2 * routed
    core._httpd.server_close()


def test_index_freshness_guard(spark, tmp_path):
    """r16: an attached index is AUTHORITATIVE (the semi-join drops docs
    it doesn't list), so a bulk landing after the last refresh must
    DISARM index routing — searches still see the new doc through the
    scan plan — and refresh_index() must re-arm it. A search served
    from a stale index would silently hide durable docs."""
    from seqspark.server import SeqSparkServer
    from seqspark.store import DocStore

    mapping = Mapping({"service": "keyword", "message": "text"})
    store = DocStore(spark, str(tmp_path / "store"))

    def bulk_lines(i):
        body = " ".join(
            hashlib.sha256(f"f{i}:{j}".encode()).hexdigest()
            for j in range(24))
        return ('{"index": {}}\n'
                + json.dumps({"timestamp": f"2024-01-01 10:00:{i:02d}.000",
                              "service": "auth",
                              "message": f"needle {body}"}))

    seed = SeqSparkServer(spark, store, mapping,
                          allowed_drift_ms=BIG, future_drift_ms=BIG)
    seed.bulk("\n".join(bulk_lines(i) for i in range(6)).encode(),
              gzipped=False)
    sidx = StoreIndex(store, str(tmp_path / "index"),
                      {"message": F.col("tokens")["message"]})
    sidx.refresh()
    core = SeqSparkServer(spark, store, mapping, allowed_drift_ms=BIG,
                          future_drift_ms=BIG, index=sidx,
                          two_phase_min_doc_bytes=1)
    # armed: the index serves (semi-join or two-phase — either way the
    # index frame is attached)
    assert core._table()._index is not None
    assert len(core.search({"query": "message:needle",
                            "size": 50})["docs"]) == 6
    # a bulk through THIS server disarms routing until refresh...
    core.bulk(bulk_lines(7).encode(), gzipped=False)
    assert sidx.stale_buckets()
    assert core._table()._index is None
    # ...and the new doc is searchable immediately (scan plan)
    assert len(core.search({"query": "message:needle",
                            "size": 50})["docs"]) == 7
    # refresh re-arms; the index now lists the new doc too
    assert core.refresh_index() is True
    assert core._table()._index is not None
    assert len(core.search({"query": "message:needle",
                            "size": 50})["docs"]) == 7


def test_cli_index_flag_end_to_end(spark, tmp_path):
    """--index-dir wires posting + two-phase routing into the binary
    analog: startup refresh covers pre-existing docs, searches route,
    and the maintenance loop's refresh_index re-arms after a bulk."""
    import urllib.request

    from seqspark.__main__ import main

    (tmp_path / "m.yaml").write_text(
        "mapping-list:\n"
        "  - {name: service, type: keyword}\n"
        "  - {name: message, type: text}\n")
    rt = main([
        "--data-dir", str(tmp_path / "data"),
        "--mapping", str(tmp_path / "m.yaml"),
        "--index-dir", str(tmp_path / "index"),
        "--two-phase-min-doc-bytes", "1",
        "--allowed-time-drift", "20000d",
        "--future-allowed-time-drift", "20000d",
        "--maintenance-period", "1s",
    ], spark=spark, block=False)
    try:
        def post(path, body):
            req = urllib.request.Request(
                f"http://127.0.0.1:{rt.http.port}{path}", data=body)
            with urllib.request.urlopen(req) as r:
                return json.loads(r.read())

        body = " ".join(
            hashlib.sha256(f"c{j}".encode()).hexdigest() for j in range(24))
        lines = []
        for i in range(5):
            lines.append('{"index": {}}')
            lines.append(json.dumps(
                {"timestamp": f"2024-01-01 10:00:0{i}.000",
                 "service": "auth", "message": f"clineedle {body}"}))
        post("/_bulk", "\n".join(lines).encode())
        # new docs visible right away (scan while the index is stale)
        out = post("/search", json.dumps(
            {"query": "message:clineedle", "size": 10}).encode())
        assert len(out["docs"]) == 5
        # the maintenance loop re-arms index routing within a few periods
        deadline = time.time() + 30
        while time.time() < deadline:
            if not rt.http._store_index.stale_buckets():
                break
            time.sleep(0.5)
        assert not rt.http._store_index.stale_buckets()
        out = post("/search", json.dumps(
            {"query": "message:clineedle", "size": 10}).encode())
        assert len(out["docs"]) == 5
        assert rt.http._table()._index is not None
    finally:
        rt.stop()


def test_tiered_store_index_follows_ownership(spark, tmp_path):
    """r16: a StoreIndex over a TieredStore indexes each bucket's
    AUTHORITATIVE copy (`_read_owned`'s ownership rule). The killer
    case is the tombstone-recreate: after rotation drops a hot bucket, a
    late append re-creates it in hot with ONLY the new rows while cold
    holds everything — the index must build from cold, or pre-rotation
    docs silently vanish from routed searches."""
    from seqspark.server import SeqSparkServer
    from seqspark.store import DocStore, TieredStore

    mapping = Mapping({"service": "keyword", "message": "text"})
    hot = DocStore(spark, str(tmp_path / "hot"))
    cold = DocStore(spark, str(tmp_path / "cold"))
    store = TieredStore(hot, cold)

    def bulk(core, i, msg):
        core.bulk((
            '{"index": {}}\n' + json.dumps(
                {"timestamp": f"2024-01-0{i} 00:00:00.000",
                 "service": "auth", "message": msg})).encode(),
            gzipped=False)

    sidx = StoreIndex(store, str(tmp_path / "index"),
                      {"message": F.col("tokens")["message"]})
    # no width rule: the semi-join serves these narrow docs, so every
    # search below reads the index
    core = SeqSparkServer(spark, store, mapping, allowed_drift_ms=BIG,
                          future_drift_ms=BIG, index=sidx,
                          two_phase_min_doc_bytes=None)
    for d in (1, 2, 3):
        bulk(core, d, f"needle old{d}")
    assert core.refresh_index() is True
    assert {r["mid"] for r in core.search(
        {"query": "message:needle", "size": 10})["docs"]} and len(
        core.search({"query": "message:needle", "size": 10})["docs"]) == 3
    # rotate EVERYTHING out of hot; cold keeps full history
    res = store.maintain(hot_max_total_bytes=0)
    assert res["hot_dropped"]
    # rotation changed ownership -> those buckets are stale, rebuild
    assert sidx.stale_buckets()
    assert core.refresh_index() is True
    assert len(core.search({"query": "message:needle",
                            "size": 10})["docs"]) == 3
    # tombstone-recreate: late append lands the bucket back in hot with
    # only the new row; cold owns it and holds all rows
    bulk(core, 1, "needle late")
    assert core.refresh_index() is True
    docs = core.search({"query": "message:needle", "size": 10})["docs"]
    assert len(docs) == 4  # 3 old + 1 late; nothing vanished
    with store.snapshot() as snap:  # tombstoned bucket stays cold-owned
        assert snap.owners[store.partitions()[0]][0] is cold
    # the index itself lists all 4 docs (authoritative copies)
    assert sidx.read().filter(F.col("token") == "needle").count() == 4


def test_index_read_after_refresh_infers_no_schema(spark, tmp_path):
    """The first table after a bulk and refresh_index() reads the store
    and the index with their known schemas: no inference job."""
    from test_complex_fused import _jobs

    core = _indexed_server(spark, tmp_path)
    core._table()
    core.bulk(('{"index": {}}\n' + json.dumps({
        "timestamp": "2024-01-01 10:01:00.000", "service": "auth",
        "message": "login1 late"})).encode(), gzipped=False)
    assert core.refresh_index() is True
    assert _jobs(spark, core._table) == 0
    assert core._table()._index is not None
    assert core.search({"query": "message:late"})["docs"]
    core._httpd.server_close()


def test_narrow_indexed_server_search_is_one_job(spark, tmp_path):
    """Under the server's default width rule a narrow indexed store is
    served by the scan: a text-filtered /search with a total is one
    Spark job (the semi-join's id side added 2-3) and answers exactly
    what an index-less server answers."""
    from seqspark.server import SeqSparkServer
    from test_complex_fused import _jobs

    core = _indexed_server(spark, tmp_path, wide=False)
    st = core._table()
    assert st._index is not None and st.avg_doc_bytes() < 1024
    plain = SeqSparkServer(spark, core.store, core.mapping,
                           allowed_drift_ms=BIG, future_drift_ms=BIG)
    for query in ("message:login1", "message:login1*"):
        req = {"query": query, "size": 3, "with_total": True}
        out = {}
        assert _jobs(spark, lambda: out.update(core.search(dict(req)))) == 1
        assert out == plain.search(dict(req)) and out["total"] == 40
    core._httpd.server_close()
    plain._httpd.server_close()
