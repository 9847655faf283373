"""api.StoreApi gRPC e2e (r13): the reference's INTERNAL proxy→store
protocol (`api/storeapi/store_api.proto`) over the stdlib h2 stack —
Bulk durability through the group-commit append, Search ids/total/aggs,
caller-supplied async search ids, Fetch streaming in request order with
FieldsFilter, Status oldest_time."""

import json
import socket
import time
import urllib.request

import pytest

from seqspark import Mapping
from seqspark.grpcapi import seq_id_parse, seq_id_str
from seqspark.server import SeqSparkServer
from seqspark.storegrpc import StoreGrpc
from seqspark.store import DocStore
from seqspark.wire import storeapi as sa
from seqspark.wire.grpc import (
    INVALID_ARGUMENT,
    NOT_FOUND,
    GrpcChannel,
    GrpcError,
)
from seqspark.wire.seqproxy import ts_to_ms

BIG = 10**15
MAPPING = Mapping({"service": "keyword", "message": "text", "ms": "keyword"})
SVC = sa.SERVICE
WIN = {"from": 0, "to": 4102444800000}

DOCS = [
    ("2024-01-01 10:00:00.000", "auth", "login ok", "12"),
    ("2024-01-01 10:30:00.000", "auth", "login failed", "7"),
    ("2024-01-01 11:00:00.000", "pay", "charge done", "30"),
    ("2024-01-01 12:00:00.000", "pay", "charge failed", "44"),
]


def _ndjson(rows):
    return "\n".join(
        json.dumps({"timestamp": ts, "service": svc, "message": msg,
                    "ms": ms})
        for ts, svc, msg, ms in rows
    ).encode()


@pytest.fixture(scope="module")
def rig(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("storeapi")
    store = DocStore(spark, str(tmp / "store"))
    core = SeqSparkServer(
        spark, store, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
        async_dir=str(tmp / "async"),
    )
    srv = StoreGrpc(core).start()
    ch = GrpcChannel("127.0.0.1", srv.port)
    # ingest THROUGH the wire: the Bulk RPC is part of what's under test
    ch.unary(f"{SVC}/Bulk",
             {"count": len(DOCS), "docs": _ndjson(DOCS)},
             sa.BULK_REQUEST, sa.EMPTY)
    yield core, srv, ch
    ch.close()
    srv.stop()


def _search(ch, **kw):
    req = {"query": "*", **WIN, "size": 100, **kw}
    return ch.unary(f"{SVC}/Search", req, sa.SEARCH_REQUEST,
                    sa.SEARCH_RESPONSE)


def test_bulk_then_search_roundtrip(rig):
    core, srv, ch = rig
    resp = _search(ch, query="service:auth", with_total=True)
    assert resp["total"] == 2
    assert len(resp["id_sources"]) == 2
    for src in resp["id_sources"]:
        mid, rid = seq_id_parse(src["hint"])
        assert src["id"]["mid"] == mid
        assert src["id"]["rid"] == rid & (1 << 64) - 1


def test_search_size_zero_without_aggs_answers(rig):
    _core, _srv, ch = rig
    resp = _search(ch, size=0)
    assert resp.get("id_sources", []) == []
    resp = _search(ch, query="service:auth", size=0, with_total=True)
    assert resp["total"] == 2 and resp.get("id_sources", []) == []


def test_bulk_count_mismatch_and_bad_doc(rig):
    core, srv, ch = rig
    with pytest.raises(GrpcError) as ei:
        ch.unary(f"{SVC}/Bulk", {"count": 3, "docs": _ndjson(DOCS[:2])},
                 sa.BULK_REQUEST, sa.EMPTY)
    assert ei.value.code == INVALID_ARGUMENT
    # empty bulk is a no-op Empty, like count=0
    ch.unary(f"{SVC}/Bulk", {"count": 0, "docs": b""},
             sa.BULK_REQUEST, sa.EMPTY)


def test_search_aggs_map_onto_store_histograms(rig):
    core, srv, ch = rig
    resp = _search(
        ch,
        aggs=[{"field": "ms", "group_by": "service", "func": 2},  # MIN
              {"field": "ms", "func": 1}],                        # SUM
    )
    assert len(resp["aggs"]) == 2
    mins = {e["key"]: e["value"] for e in resp["aggs"][0]["agg_histogram"]}
    assert mins["auth"]["min"] == 7.0 and mins["pay"]["min"] == 30.0
    sums = resp["aggs"][1]["agg_histogram"]
    assert len(sums) == 1 and sums[0]["value"]["sum"] == 93.0


def test_search_timeseries_and_histogram_map(rig):
    core, srv, ch = rig
    resp = _search(
        ch, interval=3600_000,
        aggs=[{"field": "ms", "func": 0, "interval": 3600_000}],  # COUNT
    )
    bins = resp["aggs"][0]["timeseries"]
    assert bins and all(b["hist"]["total"] >= 1 for b in bins)
    assert sum(b["hist"]["total"] for b in bins) == 4
    hist = {e["key"]: e["value"] for e in resp["histogram"]}
    assert sum(hist.values()) == 4
    assert all(k % 3600_000 == 0 for k in hist)


def test_fetch_streams_in_request_order_with_filter(rig):
    core, srv, ch = rig
    resp = _search(ch, query="service:pay")
    ids = [s["hint"] for s in resp["id_sources"]]
    got = ch.server_streaming(
        f"{SVC}/Fetch",
        {"ids": list(reversed(ids)),
         "fields_filter": {"fields": ["service"], "allow_list": True}},
        sa.FETCH_REQUEST, sa.BINARY_DATA)
    assert len(got) == 2
    docs = [json.loads(bytes(m["data"])) for m in got]
    assert all(list(d.keys()) == ["service"] for d in docs)
    # request order preserved (reversed vs search order)
    mids = [seq_id_parse(s)[0] for s in reversed(ids)]
    assert mids == sorted(mids) or mids == sorted(mids, reverse=True)


def test_fetch_bad_id(rig):
    core, srv, ch = rig
    with pytest.raises(GrpcError) as ei:
        ch.server_streaming(f"{SVC}/Fetch", {"ids": ["nope"]},
                            sa.FETCH_REQUEST, sa.BINARY_DATA)
    assert ei.value.code == INVALID_ARGUMENT


def test_async_honors_caller_search_id(rig):
    core, srv, ch = rig
    sid = "proxy-id-0001"
    ch.unary(f"{SVC}/StartAsyncSearch",
             {"search_id": sid, "query": "service:auth", **WIN,
              "aggs": [{"field": "ms", "func": 3}]},  # MAX
             sa.START_ASYNC_SEARCH_REQUEST, sa.START_ASYNC_SEARCH_RESPONSE)
    import time

    deadline = time.time() + 60
    res = None
    while time.time() < deadline:
        res = ch.unary(f"{SVC}/FetchAsyncSearchResult",
                       {"search_id": sid, "with_docs": True, "size": 10},
                       sa.FETCH_ASYNC_SEARCH_RESULT_REQUEST,
                       sa.FETCH_ASYNC_SEARCH_RESULT_RESPONSE)
        if res.get("done"):
            break
        time.sleep(0.2)
    assert res and res["done"]
    assert ts_to_ms(res["expiration"]) > 0
    assert res["response"]["total"] == 2
    # the original agg request echoes back, like the reference's
    # FetchAsyncSearchResultResponse.aggs
    assert res["aggs"][0]["field"] == "ms" and res["aggs"][0]["func"] == 3
    maxes = res["response"]["aggs"][0]["agg_histogram"]
    assert maxes[0]["value"]["max"] == 12.0

    with pytest.raises(GrpcError) as ei:
        ch.unary(f"{SVC}/FetchAsyncSearchResult", {"search_id": "ghost"},
                 sa.FETCH_ASYNC_SEARCH_RESULT_REQUEST,
                 sa.FETCH_ASYNC_SEARCH_RESULT_RESPONSE)
    assert ei.value.code == NOT_FOUND

    with pytest.raises(GrpcError) as ei:
        ch.unary(f"{SVC}/StartAsyncSearch",
                 {"search_id": "../escape", "query": "*", **WIN},
                 sa.START_ASYNC_SEARCH_REQUEST,
                 sa.START_ASYNC_SEARCH_RESPONSE)
    assert ei.value.code == INVALID_ARGUMENT


def test_status_oldest_time(rig):
    core, srv, ch = rig
    resp = ch.unary(f"{SVC}/Status", {}, sa.STATUS_REQUEST,
                    sa.STATUS_RESPONSE)
    oldest = ts_to_ms(resp["oldest_time"])
    assert oldest == 1704103200000  # 2024-01-01 10:00:00 UTC


def test_bulk_acked_means_durable(spark, tmp_path):
    # an acked bulk is committed before it returns, over gRPC and over
    # HTTP: a NEW store and core over the same dir see all of its docs
    store = DocStore(spark, str(tmp_path / "store"))
    core = SeqSparkServer(spark, store, MAPPING, allowed_drift_ms=BIG,
                          future_drift_ms=BIG).start()
    srv = StoreGrpc(core).start()
    ch = GrpcChannel("127.0.0.1", srv.port)
    try:
        ch.unary(f"{SVC}/Bulk", {"count": 3, "docs": _ndjson(DOCS[:3])},
                 sa.BULK_REQUEST, sa.EMPTY)
        body = b'{"index": {}}\n' + _ndjson(DOCS[3:]) + b"\n"
        with urllib.request.urlopen(urllib.request.Request(
                f"http://127.0.0.1:{core.port}/_bulk", data=body)) as r:
            assert json.loads(r.read())["errors"] is False
    finally:
        ch.close()
        srv.stop()
        core.stop()
    core2 = SeqSparkServer(spark, DocStore(spark, str(tmp_path / "store")),
                           MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG)
    out = core2.search({"query": "*", "from_ms": 0,
                        "to_ms": 4102444800000, "size": 100,
                        "with_total": True})
    assert out["total"] == 4


def test_channel_reports_a_dropped_connection(rig):
    """A channel whose connection dropped says so, and a new channel to
    the same server works: the soak's StoreApi worker reopens its channel
    on that signal instead of failing every later op."""
    _, srv, _ = rig
    ch = GrpcChannel("127.0.0.1", srv.port)
    total = _search(ch, with_total=True)["total"]
    assert total >= 4 and not ch.closed
    ch._client._sock.shutdown(socket.SHUT_RDWR)
    deadline = time.time() + 10
    while not ch.closed and time.time() < deadline:
        time.sleep(0.01)
    assert ch.closed
    ch.close()
    ch = GrpcChannel("127.0.0.1", srv.port)
    assert _search(ch, with_total=True)["total"] == total
    ch.close()
